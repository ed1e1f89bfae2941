package perfbench

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Inputs of the `file_prep` workload, generated from the seed:
  *
  *  - `images/`: PNG and JPEG images over a fixed multiset of sizes and
  *    formats (the seed picks names, order and pixels, so every seed costs
  *    the same work). About a third are tile-compatible at [[Tile]] /
  *    [[Overlap]]. Four planted bad files quarantine: a header-only WebP,
  *    a header-only HEIC, a truncated PNG and a JPEG-named byte soup.
  *  - `texts/`: small `.txt` documents in the corpus vocabulary.
  *  - `lines.txt`: one large line file with about 30% repeated lines, the
  *    input of both the split and the dedup pipelines.
  *
  * The same seed gives the same bytes. */
object Gen {
  val Tile = 128
  val Overlap = 0.25
  val Step: Int = Tile - (Overlap * Tile).toInt
  val Images = 12
  val TextFiles = 48
  val Lines = 6000
  val LinesPerSplitFile = 600
  val Caption = "a test pattern, tiled"

  private val Words = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Fixed image sizes: every third one is a perfect grid. */
  private val Sizes: IndexedSeq[(Int, Int)] = {
    val r = new SplittableRandom(7L)
    (0 until Images).map { i =>
      if (i % 3 == 0) (Tile + Step * r.nextInt(1, 5), Tile + Step * r.nextInt(1, 5))
      else {
        def ragged(): Int = {
          val v = r.nextInt(180, 520)
          if ((v - Tile) % Step == 0) v + 1 else v
        }
        (ragged(), ragged())
      }
    }
  }

  def write(seed: Long, dir: File): Unit = {
    val r = new SplittableRandom(seed)
    val images = new File(dir, "images")
    val texts = new File(dir, "texts")
    images.mkdirs(); texts.mkdirs()
    val order = shuffle(Sizes.indices, r)
    order.zipWithIndex.foreach { case (sizeIdx, i) =>
      val (w, h) = Sizes(sizeIdx)
      val img = picture(w, h, r.split())
      val jpeg = sizeIdx % 3 == 1
      val name = f"img_${r.nextInt(1000000)}%06d_$i%02d" + (if (jpeg) ".jpg" else ".png")
      Files.write(new File(images, name).toPath, if (jpeg) jpegBytes(img) else pngBytes(img))
    }
    val (bw, bh) = (Tile + Step * (1 + r.nextInt(3)), 200 + r.nextInt(300))
    Files.write(new File(images, "bad_0.webp").toPath, webpHeader(bw, bh))
    Files.write(new File(images, "bad_1.heic").toPath, heicHeader(bh, bw))
    val png = pngBytes(picture(300, 200, r.split()))
    Files.write(new File(images, "bad_2.png").toPath, png.take(png.length * 3 / 5))
    Files.write(new File(images, "bad_3.jpg").toPath, Array.fill(512)(r.nextInt(256).toByte))

    (0 until TextFiles).foreach { i =>
      val body = (1 to 1 + r.nextInt(4)).map(_ => sentence(r, 8, 60)).mkString("", "\n", "\n")
      Files.write(new File(texts, f"doc_$i%04d.txt").toPath, body.getBytes(StandardCharsets.UTF_8))
    }
    val lines = new scala.collection.mutable.ArrayBuffer[String](Lines)
    (0 until Lines).foreach { i =>
      lines += (if (i > 0 && r.nextInt(10) < 3) lines(r.nextInt(i)) else sentence(r, 3, 16))
    }
    Files.write(new File(dir, "lines.txt").toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def shuffle(xs: IndexedSeq[Int], r: SplittableRandom): IndexedSeq[Int] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  private def sentence(r: SplittableRandom, lo: Int, hi: Int): String =
    (0 until r.nextInt(lo, hi)).map(_ => Words(r.nextInt(Words.length))).mkString(" ")

  /** Smooth gradient, a few flat rectangles and light noise. */
  private def picture(w: Int, h: Int, r: SplittableRandom): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val (c0, c1) = (r.nextInt(0x1000000), r.nextInt(0x1000000))
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val t = (x + y) * 255 / (w + h)
        val n = r.nextInt(9) - 4
        def ch(s: Int) = {
          val v = (((c0 >> s) & 0xff) * (255 - t) + ((c1 >> s) & 0xff) * t) / 255 + n
          math.max(0, math.min(255, v))
        }
        px(y * w + x) = (ch(16) << 16) | (ch(8) << 8) | ch(0)
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val g = img.createGraphics()
    (0 until 3).foreach { _ =>
      g.setColor(new java.awt.Color(r.nextInt(0x1000000)))
      g.fillRect(r.nextInt(w), r.nextInt(h), 10 + r.nextInt(w / 2), 10 + r.nextInt(h / 2))
    }
    g.dispose()
    img
  }

  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def jpegBytes(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.9f)
    writer.write(null, new IIOImage(img, null, null), p)
    writer.dispose(); ios.close()
    out.toByteArray
  }

  private def le(v: Int, n: Int): Array[Byte] = Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def be(v: Int, n: Int): Array[Byte] = le(v, n).reverse
  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  /** RIFF/WEBP with a VP8X chunk (canvas size) and no image data. */
  private def webpHeader(w: Int, h: Int): Array[Byte] = {
    val vp8x = ascii("VP8X") ++ le(10, 4) ++ Array[Byte](0, 0, 0, 0) ++ le(w - 1, 3) ++ le(h - 1, 3)
    ascii("RIFF") ++ le(4 + vp8x.length, 4) ++ ascii("WEBP") ++ vp8x
  }

  /** ISO-BMFF `ftyp` + `meta/iprp/ipco/ispe` with no image items. */
  private def heicHeader(w: Int, h: Int): Array[Byte] = {
    def box(t: String, body: Array[Byte]) = be(8 + body.length, 4) ++ ascii(t) ++ body
    val ispe = box("ispe", Array[Byte](0, 0, 0, 0) ++ be(w, 4) ++ be(h, 4))
    val meta = box("meta", Array[Byte](0, 0, 0, 0) ++ box("iprp", box("ipco", ispe)))
    box("ftyp", ascii("heic") ++ be(0, 4) ++ ascii("mif1heic")) ++ meta
  }
}
