package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing for training-data pipelines: image/audio/video
 * payloads ride as opaque `binary` columns with typed metadata, processed
 * by batched per-partition transforms (the Scala analogue of Python's
 * `mapInPandas` batches) or codegen'd binary expressions.
 *
 * Image decode/encode/resize are REAL (in-JDK `javax.imageio`, PNG/JPEG —
 * no external codec needed); audio/video stay byte-level (frame sampling /
 * counting below). The 100-TB-relevant property holds throughout: payload
 * bytes never leave the executor — only small metadata/feature rows
 * shuffle, and parallelism = input splits.
 */
object Multimodal {

  // keep ImageIO in-memory: its default disk scratch cache is pure
  // overhead for the small per-record payloads flowing through executors
  ImageIO.setUseCache(false)

  /** A media row: id + raw payload + mime hint. */
  case class MediaRow(id: Long, media: Array[Byte], mime: String)

  /** Decoded image metadata + an 8-dim feature vector:
    * [meanR, meanG, meanB, meanLuma, 4-bin luma histogram]. */
  case class DecodedMedia(id: Long, width: Int, height: Int, nChannels: Int,
      nBytes: Long, features: Array[Float])

  /**
   * Real image decode via `javax.imageio` (PNG/JPEG/BMP/GIF readers ship
   * in the JDK). Returns None for payloads no registered reader claims —
   * the batched caller drops them (a pipeline would route them to a
   * quarantine sink).
   */
  def decodeImage(id: Long, bytes: Array[Byte]): Option[DecodedMedia] = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      val hist = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          sr += r; sg += g; sb += b
          val luma = (r * 299 + g * 587 + b * 114) / 1000
          hist(math.min(3, luma / 64)) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val feat = Array(
        (sr / n / 255.0).toFloat,
        (sg / n / 255.0).toFloat,
        (sb / n / 255.0).toFloat,
        ((sr * 299 + sg * 587 + sb * 114) / 1000.0 / n / 255.0).toFloat,
        hist(0).toFloat / n, hist(1).toFloat / n,
        hist(2).toFloat / n, hist(3).toFloat / n)
      Some(DecodedMedia(id, w, h, img.getColorModel.getNumComponents,
        bytes.length.toLong, feat))
    }
  }

  /** Encode a solid-color RGB PNG — deterministic payload generator for
    * round-trip tests and fixtures (PNG is lossless, so decode recovers
    * the exact color). */
  def encodePng(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Real resize: decode → bilinear-scaled redraw → PNG re-encode.
    * None when the payload doesn't decode. */
  def resizeImage(bytes: Array[Byte], dstW: Int, dstH: Int)
      : Option[Array[Byte]] = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val dst = new BufferedImage(dstW, dstH, BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, dstW, dstH, null)
      g.dispose()
      val baos = new ByteArrayOutputStream()
      ImageIO.write(dst, "png", baos)
      Some(baos.toByteArray)
    }
  }

  /**
   * Batched partition-level decode: the real 100-TB execution shape —
   * payloads are processed executor-side in batches (like Arrow record
   * batches under mapInPandas), emitting only small decoded rows.
   * Undecodable payloads are dropped. No shuffle of payload bytes.
   */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    implicit val enc = Encoders.product[DecodedMedia]
    // per-partition flatMap IS the batch shape: one task per input
    // split, payload bytes consumed where they were read
    media.mapPartitions(_.flatMap(r => decodeImage(r.id, r.media)))
  }

  /** Wrap a DataFrame with id + binary columns into the typed media
    * Dataset. The id column must be integral — a silent lossy cast
    * would surface much later as an encoder NULL failure. */
  def asMedia(df: DataFrame, idCol: String, binCol: String,
      mime: String = "application/octet-stream"): Dataset[MediaRow] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"asMedia: id column '$idCol' must be integral, got $dt")
    implicit val enc = Encoders.product[MediaRow]
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("media"),
      lit(mime).as("mime")).as[MediaRow]
  }

  /** Split a binary payload into fixed-size "frames" and keep every
    * `everyN`-th — the video frame-sampling access pattern, as a pure
    * codegen'd expression (substring works on binary). NULL media ⇒
    * NULL (not a phantom one-frame array), matching [[frameCount]]. */
  def frameSample(media: Column, frameBytes: Int, everyN: Int): Column = {
    require(frameBytes >= 1, s"frameBytes must be >= 1 (got $frameBytes)")
    require(everyN >= 1, s"everyN must be >= 1 (got $everyN)")
    val nFrames = ceil(length(media).cast("double") / frameBytes).cast("int")
    // empty payload ⇒ zero frames (sequence(0, greatest(-1, 0)) would
    // otherwise emit one zero-length frame); the isNull guard stops the
    // otherwise-branch from manufacturing index 0 out of NULL arithmetic
    when(media.isNull, lit(null).cast("array<binary>"))
      .when(length(media) === 0, array().cast("array<binary>"))
      .otherwise(
        filter(
          transform(sequence(lit(0), greatest(nFrames - 1, lit(0))),
            i => substring(media, (i * frameBytes + 1).cast("int"), lit(frameBytes))),
          (_, i) => i % everyN === 0))
  }

  /** Frame count for a fixed frame size — metadata-only, no decode. */
  def frameCount(media: Column, frameBytes: Int): Column = {
    require(frameBytes >= 1, s"frameBytes must be >= 1 (got $frameBytes)")
    ceil(length(media).cast("double") / frameBytes).cast("int")
  }

  /** Byte-budget arithmetic (target/source area ratio) a planner uses for
    * cost estimation before doing real [[resizeImage]] work. */
  def resizedByteEstimate(media: Column, srcW: Column, srcH: Column,
      dstW: Int, dstH: Int): Column =
    (length(media).cast("double") * (lit(dstW * dstH).cast("double") /
      (srcW.cast("double") * srcH.cast("double")))).cast("long")
}
