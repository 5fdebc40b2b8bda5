package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded/feature-extracted in executor-side batches.
  *
  * The actual image/audio codecs are NOT in this container, so the decode
  * step is a clearly-marked deterministic STUB (`decodeStub`) — what is
  * real and tested is the Spark-side shape: binary column synthesis,
  * schema, per-partition batched processing (the mapInPandas/mapPartitions
  * batch pattern), and metadata extraction that the rest of the pipeline
  * (chart predicate, media_ref joins) consumes.
  */
object Multimodal {

  final case class MediaMeta(media_id: Long, width: Int, height: Int,
                             format: String, n_bytes: Int, phash: String)

  /** Synthesize a deterministic media table from ids: payload bytes are the
    * md5 hex of the id repeated; width/height/format derive from the hash —
    * SQL-expressible, so the DuckDB oracle can regenerate it exactly. */
  def synthMediaTable(ids: DataFrame): DataFrame =
    ids.select(
      col("doc_id").as("media_id"),
      md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .select(
        col("media_id"),
        repeat(col("h"), 4).cast("binary").as("content"),
        (conv(substring(col("h"), 1, 3), 16, 10).cast("int") + 64).as("width"),
        (conv(substring(col("h"), 4, 3), 16, 10).cast("int") + 64).as("height"),
        when(conv(substring(col("h"), 7, 1), 16, 10).cast("int") % 3 === 0, "png")
          .when(conv(substring(col("h"), 7, 1), 16, 10).cast("int") % 3 === 1, "jpeg")
          .otherwise("webp").as("format"))

  /** P7: the reference's input-size reduction (resize to fit 1280×1280,
    * client.py:88-123) as pure column arithmetic — the byte-reducing
    * projection applied before any shuffle. */
  def resizeFit(media: DataFrame, maxSide: Int = 1280): DataFrame = {
    val scale = least(lit(maxSide.toDouble) / col("width"),
      lit(maxSide.toDouble) / col("height"), lit(1.0))
    media.select(
      col("media_id"), col("width"), col("height"),
      floor(col("width") * scale).cast("int").as("resized_w"),
      floor(col("height") * scale).cast("int").as("resized_h"),
      // Spark's base64 is MIME-chunked (CRLF every 76 chars); strip the
      // breaks so the length matches the canonical RFC 4648 encoding
      length(regexp_replace(base64(col("content")), "[\\r\\n]", "")).as("b64_len"))
  }

  /** Deterministic synthetic page raster: a real PNG (JDK ImageIO, headless)
    * whose pixels are a seeded gradient — lets the crop path run against
    * genuine image bytes with no external codec. */
  def renderPng(seed: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = graft.corpus.Synth.splitmix64(seed ^ (y.toLong << 20) ^ x.toLong)
        img.setRGB(x, y, (v & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** F8: bbox crop of a page image (reference tests/test_single_page.py:51-67
    * — PIL crop + PNG re-encode), on the JVM via ImageIO. Returns re-encoded
    * PNG bytes of the region, or None if the bytes don't decode. */
  def cropRegion(pngBytes: Array[Byte], x1: Int, y1: Int, x2: Int, y2: Int): Option[Array[Byte]] =
    cropRegionMeta(pngBytes, x1, y1, x2, y2).map(_._1)

  /** Crop + dimensions in one pass — the dims are known from the clamped
    * rect, so consumers never re-decode the crop just to measure it. */
  def cropRegionMeta(pngBytes: Array[Byte], x1: Int, y1: Int, x2: Int, y2: Int)
  : Option[(Array[Byte], Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pngBytes))
      if (img == null) None
      else {
        val cx1 = math.max(0, x1); val cy1 = math.max(0, y1)
        val cx2 = math.min(img.getWidth, x2); val cy2 = math.min(img.getHeight, y2)
        if (cx2 <= cx1 || cy2 <= cy1) None
        else {
          val sub = img.getSubimage(cx1, cy1, cx2 - cx1, cy2 - cy1)
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(sub, "png", out)
          Some((out.toByteArray, cx2 - cx1, cy2 - cy1))
        }
      }
    } catch { case _: Exception => None }

  /** Crop chart regions out of real page rasters: (media_id, bbox) rows →
    * (media_id, crop_w, crop_h, crop_bytes). Runs as a typed map — the
    * ImageIO codec is executor-side, batched per partition. */
  def cropCharts(pages: Dataset[(Long, Array[Byte], Int, Int, Int, Int)])
  : Dataset[(Long, Int, Int, Array[Byte])] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      it.flatMap { case (id, bytes, x1, y1, x2, y2) =>
        cropRegionMeta(bytes, x1, y1, x2, y2).map { case (cropped, w, h) =>
          (id, w, h, cropped)
        }
      }
    }
  }

  /** Frame sampling for video-ish media: duration metadata → uniform
    * timestamps → one row per sampled frame (`posexplode` of the frame
    * index sequence). The decode step is the deterministic stub (no video
    * codecs in this container — frame refs are content-addressed hashes a
    * real decoder would replace with frame bytes); the Spark plumbing —
    * schema, per-row fan-out, timestamp math, bounded frames/media — is the
    * real part and is what survives a codec swap. SQL-expressible, so m4's
    * DuckDB oracle reproduces it exactly. */
  def sampleFrames(media: DataFrame, maxFrames: Int = 8): DataFrame = {
    val h = md5(col("media_id").cast("string").cast("binary"))
    val dur = (conv(substring(h, 9, 2), 16, 10).cast("int") % 60 + 1).as("duration_s")
    media.select(col("media_id"), dur)
      .withColumn("n_frames", least(col("duration_s"), lit(maxFrames)))
      .select(col("media_id"), col("duration_s"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1)))
      .drop("pos")
      .withColumnRenamed("col", "frame_idx")
      .withColumn("frame_ts_ms",
        floor(col("frame_idx") * col("duration_s") * 1000 / col("n_frames")).cast("long"))
      .withColumn("frame_ref",
        md5(concat(col("media_id").cast("string"), lit("_"),
          col("frame_idx").cast("string")).cast("binary")))
  }

  /** Real JPEG re-encode at an explicit quality factor — the reference's
    * JPEG q85 step (client.py:62-66) done with ImageIO's writer params
    * instead of PIL. */
  def encodeJpeg(img: java.awt.image.BufferedImage,
                 quality: Float = 0.85f): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    try writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** P7 for real bytes: the reference's optimize_image (client.py:88-123) —
    * decode, scale to fit maxSide² (bilinear; PIL's LANCZOS kernel is not in
    * ImageIO, the contract is the ≤maxSide bound not the kernel), RGB
    * convert, JPEG-q re-encode. Returns None when the bytes don't decode —
    * errors are rows/skips, never exceptions. */
  def optimizeImage(bytes: Array[Byte], maxSide: Int = 1280,
                    quality: Float = 0.85f): Option[Array[Byte]] =
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .map { img =>
          val scale = math.min(1.0,
            math.min(maxSide.toDouble / img.getWidth, maxSide.toDouble / img.getHeight))
          val (w, h) = (math.max(1, (img.getWidth * scale).toInt),
            math.max(1, (img.getHeight * scale).toInt))
          val rgb = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = rgb.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          encodeJpeg(rgb, quality)
        }
    } catch { case _: Exception => None }

  /** STUB decode: stands in for an image codec. Deterministic: "decodes"
    * the payload into metadata + a perceptual-hash stand-in (md5 of bytes).
    * Runs batched per partition — the real codec would slot in here with
    * identical schema and batching. */
  def decodeStub(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("content"),
      col("width"), col("height"), col("format"))
      .as[(Long, Array[Byte], Int, Int, String)]
      .mapPartitions { it =>
        // batch shape: drain the partition in fixed-size batches, the way a
        // vectorized decoder (mapInPandas / Arrow) would
        it.grouped(64).flatMap { batch =>
          batch.map { case (id, bytes, w, h, fmt) =>
            val md = java.security.MessageDigest.getInstance("MD5")
            val phash = md.digest(bytes).map("%02x".format(_)).mkString
            MediaMeta(id, w, h, fmt, bytes.length, phash)
          }
        }
      }
  }
}
