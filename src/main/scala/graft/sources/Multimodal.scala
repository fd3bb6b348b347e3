package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal binary-column operators (scale extension, SURVEY §7.2 M8):
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, processed in Arrow-friendly batches.
  *
  * The reference's model stages consume image crops
  * (reference src/embedding.py:1263-1387); in-engine the contract is
  * columnar: `binaryFile` scan → per-partition batched decode/featurize →
  * feature columns. JPEG/PNG payloads are REALLY decoded (JDK
  * `javax.imageio`, grid-luminance features — see `decodeOne`); other
  * payloads fall back to a deterministic byte-fold stub standing in
  * for their codecs/models. The Spark-side plumbing — schema,
  * partition-batched iteration, batch shape — is real for all paths.
  *
  * Scale: `spark.read.format("binaryFile")` is a splittable listing scan;
  * per-partition batching (`grouped(batchSize)`) mirrors the reference's
  * DataLoader batch=32 (src/embedding.py:1361-1362) and is the shape
  * `mapInArrow`/Pandas-UDF batching takes on a real cluster.
  */
object Multimodal {

  /** Directory of media files → media table (S10 analogue;
    * reference ext-sniffing at src/utils/helpers.py:665-685).
    */
  def readMediaDir(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
      .select(col("path"),
        when(col("path").rlike("(?i)\\.(jpg|jpeg|png)$"), "image")
          .when(col("path").rlike("(?i)\\.(wav|mp3|flac)$"), "audio")
          .otherwise("video").as("modality"),
        col("content"),
        lit(null).cast(IntegerType).as("meta_width"),
        lit(null).cast(IntegerType).as("meta_height"),
        lit(null).cast(LongType).as("meta_duration_ms"))

  /** Decode a binary payload to a fixed-length feature vector.
    *
    * REAL path (JPEG/PNG magic bytes): `javax.imageio` (ships in the
    * JDK — no codec deps) decodes the image and the feature is the
    * per-cell mean luminance over a ⌈√dim⌉×⌈√dim⌉ grid, row-major, in
    * [0,1] — the engine-side analogue of the reference's crop →
    * resize/pad → normalize stage (src/embedding.py:1263-1387; the
    * learned-model embedding itself stays out of engine scope).
    *
    * FALLBACK (anything else, or undecodable bytes): the deterministic
    * byte-fold stub, kept so non-image payloads (and the k06/k07
    * oracle fixtures, which feed text bytes) behave exactly as before.
    * A model deployment swaps ONLY this function body; the batching,
    * schema, and partitioning stay as-is.
    */
  def decodeOne(content: Array[Byte], dim: Int): Array[Float] = {
    if (content != null && looksLikeImage(content)) {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case _: Exception => null } // corrupt payload → stub
      if (img != null && img.getWidth > 0 && img.getHeight > 0)
        return gridLuminance(img, dim)
    }
    val out = Array.ofDim[Float](dim)
    if (content != null && content.nonEmpty) {
      var i = 0
      while (i < dim) {
        // deterministic byte-fold; stands in for pixel decode + model
        out(i) = ((content(i % content.length) & 0xff) * 31 + i) % 256 / 255.0f
        i += 1
      }
    }
    out
  }

  /** JPEG (FF D8 FF) / PNG (89 'PNG') magic sniff — the cheap gate that
    * keeps non-image payloads off the ImageIO attempt entirely.
    */
  private def looksLikeImage(c: Array[Byte]): Boolean =
    c.length >= 4 &&
      (((c(0) & 0xff) == 0xff && (c(1) & 0xff) == 0xd8 && (c(2) & 0xff) == 0xff) ||
        ((c(0) & 0xff) == 0x89 && c(1) == 'P' && c(2) == 'N' && c(3) == 'G'))

  // ImageIO's default stream cache spills every decode to a temp FILE —
  // pure overhead for in-memory payloads in the per-partition hot loop
  javax.imageio.ImageIO.setUseCache(false)

  /** Mean luminance (integer ITU-R 601 weights, exact) per cell of a
    * g×g grid (g = ⌈√dim⌉), row-major, scaled to [0,1]. Deterministic:
    * integer pixel sums, one double divide per cell. Pixels are read
    * with ONE bulk getRGB per cell — the per-pixel getRGB(x, y)
    * overload re-does the ColorModel dance on every call, roughly an
    * order of magnitude slower over a whole image.
    */
  private def gridLuminance(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val g = math.ceil(math.sqrt(dim.toDouble)).toInt
    val (w, h) = (img.getWidth, img.getHeight)
    val out = Array.ofDim[Float](dim)
    var i = 0
    while (i < dim) {
      val (row, colIdx) = (i / g, i % g)
      val x0 = colIdx * w / g
      val x1 = math.max(x0 + 1, (colIdx + 1) * w / g)
      val y0 = row * h / g
      val y1 = math.max(y0 + 1, (row + 1) * h / g)
      val (cw, ch) = (x1 - x0, y1 - y0)
      val px = img.getRGB(x0, y0, cw, ch, null, 0, cw)
      var sum = 0L
      var j = 0
      while (j < px.length) {
        val rgb = px(j)
        sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)) / 1000
        j += 1
      }
      out(i) = (sum.toDouble / (cw.toLong * ch) / 255.0).toFloat
      i += 1
    }
    out
  }

  final case class MediaFeature(path: String, modality: String, feature: Array[Float])

  /** Batched featurize: per-partition, batches of `batchSize` rows go
    * through the (stub) decoder together — the real UDF-batch shape.
    */
  def featurize(media: DataFrame, dim: Int = 64, batchSize: Int = 32): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("path", "modality", "content").as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // batch-shaped call boundary: a real impl hands `batch` to the
          // model runtime in one go (GPU batching, reference P7)
          batch.map { case (p, m, c) => MediaFeature(p, m, decodeOne(c, dim)) }
        }
      }
  }

  /** REAL audio featurization for WAV/PCM payloads — the JDK ships the
    * codec (`javax.sound.sampled`), so like stills (ImageIO) and GIF
    * video ([[gifFrames]]) this is capability-proven, not a stub. The
    * payload decodes to PCM samples; the feature is the per-window
    * mean |amplitude| over `dim` equal time windows, normalized to
    * [0,1] — the audio analogue of [[decodeOne]]'s grid luminance
    * (energy envelope; a real model deployment swaps the fold for its
    * frontend, the batching/schema stay). Multi-channel audio averages
    * channels per sample frame. Returns
    * `(path, n_samples, sample_rate, feature)`; non-WAV payloads fail
    * loudly — the deterministic stub for truly codec-less modalities
    * remains [[featurize]].
    *
    * Scale shape: one task per payload row; samples stream through the
    * decoder (never fully materialized), integer accumulation per
    * window, one divide per cell — same determinism discipline as the
    * image path.
    */
  final case class AudioFeature(path: String, nSamples: Long, sampleRate: Int,
                                feature: Array[Float])

  def wavFeatures(media: DataFrame, dim: Int = 16): Dataset[AudioFeature] = {
    require(dim > 0, s"wavFeatures: dim must be positive, got $dim")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("path", "content").as[(String, Array[Byte])]
      .map { case (p, c) =>
        require(c != null && c.length >= 12 && c(0) == 'R' && c(1) == 'I' &&
          c(2) == 'F' && c(3) == 'F' && c(8) == 'W' && c(9) == 'A' && c(10) == 'V',
          s"wavFeatures: not a WAV payload: $p")
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(c))
        try {
          val fmt = in.getFormat
          require(fmt.getSampleSizeInBits == 16 || fmt.getSampleSizeInBits == 8,
            s"wavFeatures: unsupported sample size ${fmt.getSampleSizeInBits} in $p")
          val channels = fmt.getChannels
          val bytesPerSample = fmt.getSampleSizeInBits / 8
          val frameBytes = fmt.getFrameSize
          val nFrames = in.getFrameLength
          require(nFrames > 0, s"wavFeatures: empty audio stream in $p")
          // per-window integer sums of mean-channel |amplitude|
          val sums = Array.ofDim[Long](dim)
          val counts = Array.ofDim[Long](dim)
          val buf = Array.ofDim[Byte](frameBytes * 1024)
          var frameIdx = 0L
          var read = in.read(buf)
          while (read > 0) {
            var off = 0
            while (off + frameBytes <= read) {
              var chSum = 0L
              var ch = 0
              while (ch < channels) {
                val base = off + ch * bytesPerSample
                val amp =
                  if (bytesPerSample == 2) {
                    // WAV PCM16 is little-endian signed
                    val v = ((buf(base + 1) << 8) | (buf(base) & 0xff)).toShort
                    math.abs(v.toInt)
                  } else math.abs((buf(base) & 0xff) - 128) * 256
                chSum += amp
                ch += 1
              }
              val w = ((frameIdx * dim) / nFrames).toInt
              sums(w) += chSum / channels
              counts(w) += 1
              frameIdx += 1
              off += frameBytes
            }
            read = in.read(buf)
          }
          val feat = Array.tabulate(dim)(i =>
            if (counts(i) == 0) 0f
            else (sums(i).toDouble / counts(i) / 32768.0).toFloat)
          AudioFeature(p, frameIdx, fmt.getSampleRate.toInt, feat)
        } finally in.close()
      }
  }

  /** Frame-sample stub for video payloads: emit every `stride`-th
    * "frame" as a (path, frameIdx, feature) row — the explode shape of
    * per-frame extraction with a byte-offset fake.
    */
  final case class FrameFeature(path: String, frameIdx: Int, feature: Array[Float])

  def sampleFrames(media: DataFrame, nFrames: Int, dim: Int = 16): Dataset[FrameFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, c) =>
        (0 until nFrames).map { f =>
          val slice = if (c == null || c.isEmpty) Array.emptyByteArray
            else c.drop(f * math.max(1, c.length / math.max(nFrames, 1))).take(64)
          FrameFeature(p, f, decodeOne(slice, dim))
        }
      }
  }

  /** REAL video-frame decode for animated-GIF payloads — the container
    * format [[graft.sinks.Render.renderVideo]] writes, so the engine's
    * video story round-trips: encode per-sequence → store as a binary
    * column → decode every `stride`-th frame back to feature rows.
    * Each selected frame goes through the same grid-luminance
    * featurization as still images ([[decodeOne]]'s real path); GIF
    * frames are composited onto a logical-screen-sized canvas at their
    * image-descriptor offsets first (frames may be partial-update
    * rects — reference analogue: cv2's VideoCapture always yields full
    * frames, src/embedding.py:1340s). Disposal is accumulate-only:
    * restore-to-background/previous frames composite like doNotDispose
    * — fine for decode-for-features, not a pixel-perfect GIF player.
    *
    * Non-GIF payloads fail loudly: this is the capability-proven path,
    * not the stub ([[sampleFrames]] keeps the deterministic byte-fold
    * stand-in for codecs that don't ship in a bare JVM).
    *
    * Scale shape: one task per payload row (a video is one binary
    * cell); frames stream through the reader, only the selected ones
    * featurize. Long videos parallelize across rows, like every other
    * per-payload decode here.
    */
  def gifFrames(media: DataFrame, stride: Int, dim: Int = 16): Dataset[FrameFeature] = {
    require(stride > 0, s"gifFrames: stride must be positive, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, c) =>
        require(c != null && c.length >= 4 && c(0) == 'G' && c(1) == 'I' && c(2) == 'F',
          s"gifFrames: not a GIF payload: $p")
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(c))
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        reader.setInput(in)
        // canvas = the logical screen (stream metadata); frames may be
        // partial-update rects positioned by their image descriptor —
        // pasting at (0,0) would silently corrupt every feature after
        // the first partial frame of an optimizer-compressed GIF
        def attr(m: javax.imageio.metadata.IIOMetadata, fmt: String,
                 node: String, a: String): Option[Int] = {
          var c0 = m.getAsTree(fmt).getFirstChild
          while (c0 != null && c0.getNodeName != node) c0 = c0.getNextSibling
          Option(c0).flatMap(nd =>
            Option(nd.getAttributes.getNamedItem(a)).map(_.getNodeValue.toInt))
        }
        val streamFmt = "javax_imageio_gif_stream_1.0"
        val imageFmt = "javax_imageio_gif_image_1.0"
        try {
          val n = reader.getNumImages(true)
          val sw = attr(reader.getStreamMetadata, streamFmt,
            "LogicalScreenDescriptor", "logicalScreenWidth")
          val sh = attr(reader.getStreamMetadata, streamFmt,
            "LogicalScreenDescriptor", "logicalScreenHeight")
          var canvas: java.awt.image.BufferedImage = null
          (0 until n).flatMap { f =>
            val frame = reader.read(f)
            val im = reader.getImageMetadata(f)
            val left = attr(im, imageFmt, "ImageDescriptor", "imageLeftPosition").getOrElse(0)
            val top = attr(im, imageFmt, "ImageDescriptor", "imageTopPosition").getOrElse(0)
            if (canvas == null) {
              canvas = new java.awt.image.BufferedImage(
                math.max(sw.getOrElse(0), left + frame.getWidth),
                math.max(sh.getOrElse(0), top + frame.getHeight),
                java.awt.image.BufferedImage.TYPE_INT_RGB)
            }
            val g = canvas.createGraphics()
            try g.drawImage(frame, left, top, null) finally g.dispose()
            if (f % stride == 0) Some(FrameFeature(p, f, gridLuminance(canvas, dim)))
            else None
          }
        } finally { reader.dispose(); in.close() }
      }
  }
}
