package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the Spark-side plumbing for batch decode /
  * feature-extraction.
  *
  * IMAGE decode is REAL: [[decodeImageRgb]] runs the JDK's `javax.imageio`
  * codecs (PNG/JPEG/GIF/BMP ship with every JRE) and feature extraction
  * derives from actual decoded pixels. AUDIO/VIDEO decode remains stubbed
  * (`decodeStub` — this container has no audio/video codec libraries);
  * for those payloads the container-header kernels
  * ([[audioMeta]]/[[videoMeta]]) provide the real metadata and the stub
  * marks the sample-decode boundary. Everything around both — the schema
  * contract, the mapPartitions batching, partition sizing, and the column
  * pruning that keeps huge binary payloads out of shuffles — is the real
  * production shape.
  *
  * Scale rules encoded here:
  *  - binary payloads NEVER pass through a shuffle: derive features first
  *    (narrow map), then join features by id.
  *  - decode runs per-partition so heavyweight codec state is initialized
  *    once per task, not once per row (the mapInPandas batch shape).
  */
object Multimodal {

  /** Canonical media struct: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("bytes", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Wrap a binary column into the canonical media struct. */
  def asMedia(bytes: Column, mime: Column): Column =
    struct(
      bytes.as("bytes"),
      mime.as("mime"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms"))

  /** Cheap, codegen'd byte-level metadata — no decode needed. */
  def byteLength(bytes: Column): Column = length(bytes)
  def contentHash(bytes: Column): Column = md5(bytes)

  /** Container-header metadata (PNG IHDR / JPEG SOFn / GIF screen
    * descriptor) parsed in one codegen'd pass — real `width`/`height`
    * without any codec (graft.plans.ImageHeaders). Unknown containers
    * yield ("unknown", -1, -1).
    */
  def imageMeta(bytes: Column): Column = graft.plans.ImageMeta(bytes)

  /** Audio container metadata (WAV RIFF chunk walk, FLAC STREAMINFO) —
    * struct(format, channels, sample_rate, bits, n_frames) parsed in
    * one codegen'd pass, no codec (graft.plans.AudioHeaders). Unknown
    * containers yield ("unknown", -1, -1, -1, -1).
    */
  def audioMeta(bytes: Column): Column = graft.plans.AudioMeta(bytes)

  /** MP4/ISO-BMFF container metadata (moov→mvhd walk + first video
    * tkhd) — struct(format, timescale, duration, width, height), no
    * codec (graft.plans.VideoHeaders). Duration is in timescale units:
    * seconds = duration / timescale.
    */
  def videoMeta(bytes: Column): Column = graft.plans.VideoMeta(bytes)

  /** [[asMedia]] with width/height filled from the container header —
    * the stub boundary is now feature extraction only.
    */
  def asMediaWithMeta(bytes: Column, mime: Column): Column = {
    val m = imageMeta(bytes)
    struct(
      bytes.as("bytes"),
      mime.as("mime"),
      when(m.getField("width") >= 0, m.getField("width"))
        .cast(IntegerType).as("width"),
      when(m.getField("height") >= 0, m.getField("height"))
        .cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms"))
  }

  val featureDim = 8

  /** Deterministic fake "decode + feature extract" for the AUDIO/VIDEO
    * codec boundary only (images decode for real via [[decodeImageRgb]]):
    * in production this is the call into an audio/video codec (???
    * boundary — the container ships no such library). Features are a
    * stable function of the payload bytes so tests are reproducible.
    */
  private[graft] def decodeStub(bytes: Array[Byte]): Array[Float] = {
    // ??? — real implementation decodes the media and runs the extractor.
    // Deterministic fake: k polynomial byte-hashes, scaled to [0,1).
    val out = new Array[Float](featureDim)
    var k = 0
    while (k < featureDim) {
      var acc = 1469598103934665603L ^ k
      var i = 0
      while (i < bytes.length) { acc = (acc ^ bytes(i)) * 1099511628211L; i += 1 }
      out(k) = math.abs(acc % 1000000L).toFloat / 1000000f
      k += 1
    }
    out
  }

  /** One-time JVM codec setup: headless AWT (no display in any executor)
    * and no ImageIO disk-cache files (tiny in-memory payloads — a temp
    * file per decode would dominate the decode itself).
    */
  private lazy val imageIoReady: Boolean = {
    if (System.getProperty("java.awt.headless") == null)
      System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  /** REAL image decode via the JDK's `javax.imageio` codecs: full pixel
    * raster as packed 0xRRGGBB ints, row-major. Returns None for payloads
    * that are not a decodable image (unknown container per the header
    * sniff, or a corrupt stream the codec rejects). The header sniff
    * ([[graft.plans.ImageHeaders]]) runs first so non-image bytes never
    * pay a codec attempt.
    */
  private[graft] def decodeImageRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (bytes == null || bytes.length < 8) return None
    val (fmt, _, _) = graft.plans.ImageHeaders.parse(bytes)
    if (fmt == "unknown" || fmt == "webp") return None // no JDK webp codec
    require(imageIoReady)
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        // getRGB returns packed ARGB; mask to RGB (alpha is not part of
        // the feature contract and PNG without alpha reads as 0xFF)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < px.length) { px(i) = px(i) & 0xffffff; i += 1 }
        Some((w, h, px))
      }
    } catch { case _: Exception => None }
  }

  /** REAL image encode via `javax.imageio` (PNG — lossless, so decode
    * returns the exact pixels): row-major packed 0xRRGGBB ints in, PNG
    * container out. The q185 gate round-trips through BOTH real codec
    * directions.
    */
  private[graft] def encodePng(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(imageIoReady)
    require(rgb.length == w * h, s"pixel buffer ${rgb.length} != ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, rgb, 0, w)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Exact integer image features from a REAL decode — (width, height,
    * sum_r, sum_g, sum_b, n_bright) with n_bright = pixels whose r+g+b ≥
    * 384 (mean channel ≥ 128). Integer sums make the result
    * engine-agnostic-hashable (no float formatting boundary); rows whose
    * payload is not a decodable image are emitted with width = -1 and
    * zero sums so a mixed corpus is visible, not silently dropped. The
    * binary column is pruned from the output — downstream shuffles carry
    * six longs per row, never payloads.
    */
  def imageFeaturesExact(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(bytesCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        require(imageIoReady) // per-partition codec init (once per task)
        rows.map { case (id, bytes) =>
          decodeImageRgb(bytes) match {
            case Some((w, h, px)) =>
              var sr = 0L; var sg = 0L; var sb = 0L; var nb = 0L
              var i = 0
              while (i < px.length) {
                val p = px(i)
                val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
                sr += r; sg += g; sb += b
                if (r + g + b >= 384) nb += 1
                i += 1
              }
              (id, w, h, sr, sg, sb, nb)
            case None => (id, -1, -1, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("id", "width", "height", "sum_r", "sum_g", "sum_b", "n_bright")
  }

  /** Float feature vector (dim [[featureDim]]) from a REAL image decode:
    * width, height, per-channel means, overall luma mean, bright-pixel
    * fraction, aspect ratio. Deterministic pixel math over the decoded
    * raster.
    */
  private[graft] def imageFeatureVector(w: Int, h: Int, px: Array[Int]): Array[Float] = {
    var sr = 0L; var sg = 0L; var sb = 0L; var nb = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
      sr += r; sg += g; sb += b
      if (r + g + b >= 384) nb += 1
      i += 1
    }
    val n = math.max(px.length, 1).toFloat
    Array(w.toFloat, h.toFloat, sr / n, sg / n, sb / n,
      (sr + sg + sb) / (3f * n), nb / n, w.toFloat / math.max(h, 1))
  }

  /** Batch feature extraction: one decoder per partition, binary column
    * pruned from the output (features + id only), so downstream ops
    * shuffle floats, not payloads. Decodable IMAGES take the real
    * `javax.imageio` path ([[imageFeatureVector]] over actual pixels);
    * everything else falls to [[decodeStub]] — the audio/video codec
    * boundary this container cannot cross.
    */
  def extractFeatures(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(bytesCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init of heavyweight codec state happens here
        // (once per task, not once per row — the mapInPandas batch shape)
        require(imageIoReady)
        rows.map { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.emptyByteArray)
          val feats = decodeImageRgb(b) match {
            case Some((w, h, px)) => imageFeatureVector(w, h, px)
            case None => decodeStub(b)
          }
          (id, feats)
        }
      }
      .toDF("id", "features")
  }

  /** Frame extraction over a binary payload: one row per `frameLen`-byte
    * frame with (offset, len, md5 of the frame bytes) — the codec-free
    * stand-in for keyframe extraction (in production the offsets come from
    * the container index, the hash from the decoded frame). substring/md5
    * are codegen'd; the payload is sliced in-task and never shuffles.
    */
  def frameSample(df: DataFrame, idCol: String, bytesCol: String, frameLen: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      col(bytesCol).as("__b"),
      posexplode(
        sequence(lit(0),
          greatest(floor((length(col(bytesCol)) - 1) / lit(frameLen)).cast("int"), lit(0)))))
      .toDF("id", "__b", "frame_idx", "__i")
      .select(col("id"), col("frame_idx"),
        (col("frame_idx") * frameLen).as("offset"),
        least(length(col("__b")) - col("frame_idx") * frameLen, lit(frameLen)).as("len"),
        md5(expr(s"substring(__b, frame_idx * $frameLen + 1, " +
          s"least(length(__b) - frame_idx * $frameLen, $frameLen))")).as("frame_md5"))

  /** Frame-sampling plumbing for video-like payloads: deterministic chunk
    * boundaries as (offset, length) pairs — in production the codec seeks
    * per keyframe; here every `chunkSize` bytes. Emits one row per sampled
    * chunk, demonstrating the explode-side batching.
    */
  def sampleChunks(df: DataFrame, idCol: String, bytesCol: String, chunkSize: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      length(col(bytesCol)).as("total_len"),
      posexplode(
        transform(
          // integer chunk count: `/` on Columns is double division and
          // sequence() rejects mixed INT/DOUBLE bounds
          sequence(lit(0),
            greatest(floor((length(col(bytesCol)) - 1) / lit(chunkSize)).cast("int"), lit(0))),
          i => struct(
            (i * chunkSize).as("offset"),
            least(length(col(bytesCol)) - i * chunkSize, lit(chunkSize)).as("len")))))
      .toDF("id", "total_len", "chunk_idx", "chunk")
      .select(col("id"), col("total_len"), col("chunk_idx"),
        col("chunk.offset").as("offset"), col("chunk.len").as("len"))
}
