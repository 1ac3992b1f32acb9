package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal columns: media as opaque `binary` with typed metadata.
  *
  * The container ships no external image/audio libraries, so the codecs here
  * are REAL pure-JVM implementations of simple formats — 24-bit uncompressed
  * BMP (encode, decode, nearest-neighbor resize), 16-bit PCM WAV (encode,
  * decode, RMS/ZCR features) and a length-prefixed frame container for video
  * (frame-sample → per-frame BMP decode). The Spark plumbing is the shape a
  * production pipeline needs: binary column + typed metadata, one decoder
  * session per partition (`mapPartitions`, the JVM analogue of
  * `mapInPandas`'s batch iteration), fixed-size feature vectors,
  * deterministic at any parallelism.
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long,
      kind: String,            // image | audio | video
      bytes: Array[Byte],      // real BMP / WAV / GVID payload
      width: Int, height: Int, // typed metadata (images/video)
      sample_rate: Int)        // audio

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      width: Int, height: Int,     // decoded from payload (not metadata)
      sample_rate: Int,
      feature: Array[Float])       // fixed-size feature vector

  val FeatureDim = 16

  // ---------------------------------------------------------------- BMP

  /** Encode a 24-bit uncompressed BMP (BITMAPINFOHEADER). `pixel(x, y)`
    * returns packed 0xRRGGBB. */
  def encodeBmp(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val rowSize = (width * 3 + 3) / 4 * 4 // rows padded to 4 bytes
    val dataSize = rowSize * height
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // BMP stores rows bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val p = pixel(x, y)
        b.put((p & 0xff).toByte)           // blue
        b.put(((p >> 8) & 0xff).toByte)    // green
        b.put(((p >> 16) & 0xff).toByte)   // red
        x += 1
      }
      var pad = width * 3
      while (pad % 4 != 0) { b.put(0.toByte); pad += 1 }
      y -= 1
    }
    b.array()
  }

  final case class BmpImage(width: Int, height: Int, rgb: Array[Int]) {
    def pixel(x: Int, y: Int): Int = rgb(y * width + x)
  }

  /** Decode a 24-bit uncompressed BMP. */
  def decodeBmp(bytes: Array[Byte]): BmpImage = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(b.get(0) == 'B' && b.get(1) == 'M', "not a BMP payload")
    val dataOffset = b.getInt(10)
    val width = b.getInt(18)
    val height = b.getInt(22)
    require(b.getShort(28) == 24, s"only 24-bit BMP supported, got ${b.getShort(28)}")
    val rowSize = (width * 3 + 3) / 4 * 4
    val rgb = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val rowStart = dataOffset + (height - 1 - y) * rowSize
      var x = 0
      while (x < width) {
        val i = rowStart + x * 3
        rgb(y * width + x) =
          ((bytes(i + 2) & 0xff) << 16) | ((bytes(i + 1) & 0xff) << 8) | (bytes(i) & 0xff)
        x += 1
      }
      y += 1
    }
    BmpImage(width, height, rgb)
  }

  /** Nearest-neighbor BMP resize — real re-encode, not a metadata stamp. */
  def resizeBmp(bytes: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    val img = decodeBmp(bytes)
    encodeBmp(newW, newH, (x, y) =>
      img.pixel(x * img.width / newW, y * img.height / newH))
  }

  // ---------------------------------------------------------------- WAV

  /** Encode 16-bit mono PCM WAV. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(dataSize)
    samples.foreach(b.putShort)
    b.array()
  }

  final case class WavAudio(sampleRate: Int, samples: Array[Short])

  /** Decode 16-bit mono PCM WAV (walks RIFF chunks to find fmt/data). */
  def decodeWav(bytes: Array[Byte]): WavAudio = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length > 44 && b.get(0) == 'R' && b.get(1) == 'I', "not a WAV payload")
    var pos = 12
    var sampleRate = 0
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length && (sampleRate == 0 || samples == null)) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val size = b.getInt(pos + 4)
      id match {
        case "fmt " =>
          require(b.getShort(pos + 8) == 1 && b.getShort(pos + 10) == 1 &&
            b.getShort(pos + 22) == 16, "only 16-bit mono PCM supported")
          sampleRate = b.getInt(pos + 12)
        case "data" =>
          samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = b.getShort(pos + 8 + i * 2); i += 1 }
        case _ =>
      }
      pos += 8 + size + (size & 1)
    }
    require(sampleRate > 0 && samples != null, "missing fmt/data chunk")
    WavAudio(sampleRate, samples)
  }

  // ------------------------------------------------------------- video

  /** Length-prefixed frame container: "GVID" + frameCount + [len,frame]*.
    * Frames are BMP payloads. */
  def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(_.length + 4).sum
    val b = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GVID".getBytes).putInt(frames.size)
    frames.foreach { f => b.putInt(f.length); b.put(f) }
    b.array()
  }

  /** Every `step`-th frame (frame-sampling — the standard way to bound video
    * decode cost in a training pipeline). */
  def sampleFrames(bytes: Array[Byte], step: Int): Seq[Array[Byte]] = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(new String(bytes, 0, 4, "US-ASCII") == "GVID", "not a GVID payload")
    val n = b.getInt(4)
    var pos = 8
    val out = Seq.newBuilder[Array[Byte]]
    var i = 0
    while (i < n) {
      val len = b.getInt(pos)
      if (i % step == 0) out += java.util.Arrays.copyOfRange(bytes, pos + 4, pos + 4 + len)
      pos += 4 + len
      i += 1
    }
    out.result()
  }

  // ------------------------------------------------------ feature logic

  /** Image features: mean R/G/B + luminance histogram (8 bins) + dims. */
  def imageFeatures(img: BmpImage): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    val n = img.rgb.length.max(1)
    var sr = 0L; var sg = 0L; var sb = 0L
    val hist = new Array[Int](8)
    img.rgb.foreach { p =>
      val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val bl = p & 0xff
      sr += r; sg += g; sb += bl
      hist(((r * 299 + g * 587 + bl * 114) / 1000) >> 5) += 1
    }
    f(0) = sr.toFloat / n / 255f; f(1) = sg.toFloat / n / 255f; f(2) = sb.toFloat / n / 255f
    f(3) = img.width / 1024f; f(4) = img.height / 1024f
    var i = 0
    while (i < 8) { f(5 + i) = hist(i).toFloat / n; i += 1 }
    f
  }

  /** Audio features: RMS, zero-crossing rate, peak, amplitude histogram. */
  def audioFeatures(w: WavAudio): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    val n = w.samples.length.max(1)
    var sumSq = 0.0; var zc = 0; var peak = 0
    val hist = new Array[Int](8)
    var i = 0
    while (i < w.samples.length) {
      val s = w.samples(i).toInt
      sumSq += s.toDouble * s
      if (i > 0 && ((s >= 0) != (w.samples(i - 1) >= 0))) zc += 1
      if (math.abs(s) > peak) peak = math.abs(s)
      hist(math.min(math.abs(s) >> 12, 7)) += 1
      i += 1
    }
    f(0) = (math.sqrt(sumSq / n) / 32768.0).toFloat
    f(1) = zc.toFloat / n
    f(2) = peak / 32768f
    f(3) = w.sampleRate / 48000f
    i = 0
    while (i < 8) { f(5 + i) = hist(i).toFloat / n; i += 1 }
    f
  }

  /** Real per-kind decode + feature extraction. */
  def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float]) =
    kind match {
      case "image" =>
        val img = decodeBmp(bytes)
        (img.width, img.height, 0, imageFeatures(img))
      case "audio" =>
        val w = decodeWav(bytes)
        (0, 0, w.sampleRate, audioFeatures(w))
      case "video" =>
        // sample every 2nd frame, average the per-frame image features
        val frames = sampleFrames(bytes, 2).map(decodeBmp)
        val feats = frames.map(imageFeatures)
        val f = new Array[Float](FeatureDim)
        feats.foreach(ff => (0 until FeatureDim).foreach(d => f(d) += ff(d)))
        (0 until FeatureDim).foreach(d => f(d) /= feats.size.max(1))
        (frames.head.width, frames.head.height, 0, f)
      case other => throw new IllegalArgumentException(s"unknown media kind '$other'")
    }

  /** Deterministic synthetic media table with REAL payloads: BMP gradients,
    * WAV sine tones, GVID frame sequences — pure function of (seed, id). */
  def syntheticMedia(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val r = graft.corpus.Rng(99L, i)
      val kind = Seq("image", "audio", "video")(r.int(0, 3))
      kind match {
        case "image" =>
          val w = 8 + r.int(3, 56); val h = 8 + r.int(4, 56)
          val c0 = r.int(5, 256); val c1 = r.int(6, 256)
          val bytes = encodeBmp(w, h, (x, y) =>
            (((c0 + x * 7) % 256) << 16) | (((c1 + y * 5) % 256) << 8) | ((x ^ y) % 256))
          MediaRow(i, kind, bytes, w, h, 0)
        case "audio" =>
          val rate = 8000 * (1 + r.int(5, 3))
          val freq = 100.0 + r.int(6, 900)
          val nS = rate / 10 // 100 ms
          val samples = Array.tabulate(nS)(t =>
            (math.sin(2 * math.Pi * freq * t / rate) * 12000).toShort)
          MediaRow(i, kind, encodeWav(rate, samples), 0, 0, rate)
        case _ =>
          val w = 8 + r.int(3, 24); val h = 8 + r.int(4, 24)
          val frames = (0 until 2 + r.int(7, 6)).map { fi =>
            encodeBmp(w, h, (x, y) => ((x * fi) % 256) << 16 | (y % 256))
          }
          MediaRow(i, kind, encodeVideo(frames), w, h, 0)
      }
    }
  }

  /** Batch feature extraction: one partition = one decoder session (the
    * batch shape a production codec needs — init once per partition, then
    * stream rows through). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (w, h, rate, feat) = decode(m.kind, m.bytes)
        MediaFeatures(m.media_id, m.kind, m.bytes.length, w, h, rate, feat)
      }
    }
  }
}

/** Nearest-neighbor BMP resize as a unary Catalyst expression: binary →
  * binary, null-intolerant, deterministic. The per-row work (full image
  * re-encode) dwarfs eval dispatch, so CodegenFallback costs nothing here
  * (same analysis as DocStatsExpr — BASELINE.md "Decision: CodegenFallback"). */
case class BmpResize(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    newWidth: Int, newHeight: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types.{BinaryType, DataType}

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bmp_resize requires a binary column, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    Multimodal.resizeBmp(input.asInstanceOf[Array[Byte]], newWidth, newHeight)

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): BmpResize =
    copy(child = newChild)

  override def prettyName: String = "bmp_resize"
}
