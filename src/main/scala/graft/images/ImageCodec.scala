package graft.images

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.udf

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.stream.MemoryCacheImageInputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Pixel kernels for the image pipeline, as Scala UDFs over `binaryFile`
  * content (SURVEY.md §2.2 F5, §2.3 G1-G4, §2.4 M1-M2).
  *
  * Reference behaviors re-expressed (`/root/reference/modules/`):
  *  - dims-only projection without full decode (`filter_crop.py:44-46`):
  *    `imageDims` asks the format reader for header width/height only —
  *    the column-pruning analog for pixels;
  *  - crop + pad policies (`tiling.py:12-18, 43-62`): "none" keeps ragged
  *    tiles, "extend" replicates the last row/column (np.pad mode='edge'),
  *    "square" pastes onto a black tile×tile canvas;
  *  - format conversion (`other_tasks.py:28-67`): JPEG forces RGB and takes
  *    a quality, PNG ignores quality.
  *
  * Formats: PNG/JPEG/BMP/GIF/TIFF/WBMP (javax.imageio built-ins) plus
  * lossless WebP via the pure-JVM [[Vp8l]] bitstream decoder (r7). The
  * reference's HEIC/RAW paths and lossy-VP8 WebP need decoders absent
  * from this offline JVM — out of scope, documented; the reference
  * itself degrades the same way when pillow-heif/imageio are missing
  * (`batch_processor.py:12-22`).
  *
  * Scale: each UDF is a pure function of one row's bytes — embarrassingly
  * parallel, no state, no shuffle — and decodes that row's image at most
  * once: tiling goes through [[cropEncodeAll]], which cuts every tile of an
  * image from one decode; [[cropEncode]] is its one-box form, used by
  * the center crop and by the spec that locks the tiles bit for bit.
  * Decode failures return null (the reference's per-file try/except,
  * `filter_crop.py:64-65`); callers filter nulls into a quarantine output
  * instead of aborting the job.
  */
object ImageCodec {

  // ImageIO defaults to a FILE-backed stream cache: every decode of an
  // in-memory byte[] would round-trip through a temp file on executor-local
  // disk — a silent 10x tax on the pixel path. All our inputs are already
  // in memory, so force the memory cache once per JVM.
  ImageIO.setUseCache(false)

  // ----------------------------------------------------------------- decode

  private[images] def decode(bytes: Array[Byte]): Option[BufferedImage] =
    (try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
     catch { case _: Exception => None })
      // no ImageIO reader claims WebP in this JVM: lossless (VP8L) files
      // decode through the pure-JVM bitstream decoder, and lossy (VP8)
      // keyframes through the RFC 6386 decoder (both golden-pixel
      // validated against libwebp, r7/r8)
      .orElse(Vp8l.decode(bytes))
      .orElse(Vp8.decode(bytes))

  /** (width, height) from the image header only — no pixel decode.
    * Formats without an ImageIO reader in this JVM (WebP, HEIC/AVIF)
    * fall back to [[HeaderDims]]' byte-level parsers, so the dims-only
    * projection (reference F5) still covers them even though their pixel
    * decode does not exist offline. */
  def dimsOf(bytes: Array[Byte]): Option[(Int, Int)] = {
    // RAW first: the JDK TIFF reader claims CR2/NEF/ARW/DNG bytes but
    // reports IFD0 — the embedded thumbnail, not the primary image
    HeaderDims.rawDims(bytes) match {
      case some @ Some(_) => return some
      case None =>
    }
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) HeaderDims.dims(bytes)
      else {
        val r = readers.next()
        try { r.setInput(in); Some((r.getWidth(0), r.getHeight(0))) }
        catch { case _: Exception => None }
        finally r.dispose()
      }
    } catch { case _: Exception => None } finally in.close()
  }

  private def encode(img: BufferedImage, fmt: String, quality: Int): Option[Array[Byte]] = {
    val norm = fmt.toLowerCase(java.util.Locale.ROOT) match {
      case "jpg" | "jpeg" => "jpeg"
      case f => f
    }
    // webp: quality > 0 writes LOSSY VP8 (PIL's default for .webp saves is
    // lossy with a quality knob — the reference's conversion matrix cell);
    // quality 0 writes LOSSLESS VP8L (the PNG-like path). Both coders are
    // pure-JVM and validated against the system libwebp.
    if (norm == "webp")
      return try Some(
        if (quality > 0) Vp8Encoder.encode(img, math.min(quality, 100))
        else Vp8l.encode(img)
      ) catch { case _: Exception => None }
    // JPEG cannot carry alpha: force RGB like the reference's convert("RGB")
    val src = if (norm == "jpeg" && img.getType != BufferedImage.TYPE_INT_RGB) {
      val rgb = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
      val g = rgb.createGraphics(); g.drawImage(img, 0, 0, java.awt.Color.BLACK, null); g.dispose()
      rgb
    } else img
    val out = new ByteArrayOutputStream()
    try {
      if (norm == "jpeg" && quality > 0) {
        val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        val ios = ImageIO.createImageOutputStream(out)
        writer.setOutput(ios)
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(math.min(quality, 100) / 100f)
        writer.write(null, new IIOImage(src, null, null), p)
        writer.dispose(); ios.close()
      } else if (!ImageIO.write(src, norm, out)) return None
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  // ----------------------------------------------------------- pixel kernels

  /** Crop box (l,u,r,lo) then apply pad policy to reach tile×tile:
    * "none" → keep ragged; "extend" → replicate edge pixels;
    * "square" → paste at (0,0) on black canvas. (Auto Adjust is box
    * arithmetic and lives in Geometry.gridBoxes, not here.) */
  def cropPad(img: BufferedImage, l: Int, u: Int, r: Int, lo: Int,
              tile: Int, padOption: String): BufferedImage = {
    val cw = math.min(r, img.getWidth) - l
    val ch = math.min(lo, img.getHeight) - u
    val crop = img.getSubimage(l, u, cw, ch)
    padOption match {
      case _ if cw == tile && ch == tile => crop
      case "extend" =>
        val outImg = new BufferedImage(tile, tile, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < tile) {
          var x = 0
          val sy = math.min(y, ch - 1)
          while (x < tile) {
            outImg.setRGB(x, y, crop.getRGB(math.min(x, cw - 1), sy))
            x += 1
          }
          y += 1
        }
        outImg
      case "square" =>
        val outImg = new BufferedImage(tile, tile, BufferedImage.TYPE_INT_RGB)
        val g = outImg.createGraphics()
        g.setColor(java.awt.Color.BLACK); g.fillRect(0, 0, tile, tile)
        g.drawImage(crop, 0, 0, null); g.dispose()
        outImg
      case _ => crop // "none" (and post-Auto-Adjust exact tiles)
    }
  }

  // ------------------------------------------------------------------- UDFs

  // Marked nondeterministic only to pin it to ONE projection: Catalyst
  // substitutes a deterministic alias into every filter it pushes below
  // the projection (`isnotnull(dims)`, or the `size(boxes) > 0` an explode
  // infers), which would parse the header once per use.
  private val dimsUdf = udf { (bytes: Array[Byte]) =>
    if (bytes == null) None else dimsOf(bytes)
  }.withName("imageDims").asNondeterministic()

  /** STRUCT<_1 width, _2 height> or null on decode failure; evaluated once
    * per row wherever the plan filters on it. */
  def imageDims(content: Column): Column = dimsUdf(content)

  private val cropEncodeUdf = udf {
    (bytes: Array[Byte], l: Int, u: Int, r: Int, lo: Int,
     tile: Int, padOption: String, fmt: String, quality: Int) =>
      if (bytes == null) None
      else decode(bytes).flatMap { img =>
        try encode(cropPad(img, l, u, r, lo, tile, padOption), fmt, quality)
        catch { case _: Exception => None }
      }
  }

  /** Crop box → pad policy → encode; null on any per-row failure. */
  def cropEncode(content: Column, left: Column, upper: Column, right: Column,
                 lower: Column, tile: Column, padOption: Column,
                 fmt: Column, quality: Column): Column =
    cropEncodeUdf(content, left, upper, right, lower, tile, padOption, fmt, quality)

  private val cropEncodeAllUdf = udf {
    (bytes: Array[Byte], boxes: Seq[Row], tile: Int, padOption: String, fmt: String,
     quality: Int) =>
      if (bytes == null || boxes == null) None
      else if (boxes.isEmpty) Some(Seq.empty[Array[Byte]])
      else decode(bytes).map { img =>
        boxes.map { b =>
          def at(field: String) = b.getAs[Number](field).intValue
          try encode(cropPad(img, at("left"), at("upper"), at("right"), at("lower"),
            tile, padOption), fmt, quality).orNull
          catch { case _: Exception => null }
        }
      }
  }

  /** [[cropEncode]] for every box of one image from ONE decode: `boxes` is
    * an array of structs with `left`/`upper`/`right`/`lower` fields, and the
    * result holds each box's bytes (null where its encode failed) in box
    * order. The whole array is null when the image does not decode. */
  def cropEncodeAll(content: Column, boxes: Column, tile: Column, padOption: Column,
                    fmt: Column, quality: Column): Column =
    cropEncodeAllUdf(content, boxes, tile, padOption, fmt, quality)

  private val transcodeUdf = udf { (bytes: Array[Byte], fmt: String, quality: Int) =>
    if (bytes == null) None
    else decode(bytes).flatMap(img => encode(img, fmt, quality))
  }

  /** Full-image format conversion (reference M1). */
  def transcode(content: Column, fmt: Column, quality: Column): Column =
    transcodeUdf(content, fmt, quality)

  /** Bilinear resize to (w, h) — the standard pre-training normalization
    * step (not in the reference, which only crops; part of the multimodal
    * surface next to Multimodal.frameSampleGrid). Pure per-row kernel. */
  def resizeImage(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val outImg = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = outImg.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    outImg
  }

  private val resizeUdf = udf { (bytes: Array[Byte], w: Int, h: Int, fmt: String, quality: Int) =>
    if (bytes == null || w <= 0 || h <= 0) None
    else decode(bytes).flatMap(img => encode(resizeImage(img, w, h), fmt, quality))
  }

  /** Decode → bilinear resize → encode; null on any per-row failure. */
  def resize(content: Column, w: Column, h: Column, fmt: Column, quality: Column): Column =
    resizeUdf(content, w, h, fmt, quality)
}
