package graft.images

import graft.SparkSpec
import graft.io.Sinks
import org.apache.spark.sql.functions.{col, expr, lit}

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO
import scala.jdk.CollectionConverters._

/** End-to-end pixel pipeline on synthetic PNGs (FIXTURES.md §B1): gradient
  * images make every crop/pad decision visible in the output pixels. */
class TilingSpec extends SparkSpec {
  import TilingSpec._

  private def px(img: BufferedImage, x: Int, y: Int): (Int, Int, Int) = {
    val rgb = img.getRGB(x, y)
    ((rgb >> 16) & 255, (rgb >> 8) & 255, rgb & 255)
  }

  test("imageDims reads header only and survives junk bytes") {
    assert(ImageCodec.dimsOf(gradientPng(150, 100)).contains((150, 100)))
    assert(ImageCodec.dimsOf("not an image".getBytes).isEmpty)
  }

  test("tiling 128x64 tile=64: two exact tiles with gradient-correct pixels") {
    val dir = tmpDirWith("g.png" -> gradientPng(128, 64))
    val t = Tiling.tiles(Tiling.scanImages(spark, dir.toString),
      Tiling.TileParams(tileSize = 64))
    val rows = t.collect().sortBy(r => r.getAs[String]("file_name"))
    assert(rows.map(_.getAs[String]("file_name")).toSeq ==
      Seq("g_tile_0_0.png", "g_tile_1_0.png"))
    val tile1 = ImageIO.read(new java.io.ByteArrayInputStream(rows(1).getAs[Array[Byte]]("data")))
    assert(tile1.getWidth == 64 && tile1.getHeight == 64)
    // tile (1,0) starts at x=64: its (0,0) pixel is source (64,0)
    assert(px(tile1, 0, 0) == (64, 0, 64))
    assert(px(tile1, 10, 5) == (74, 5, 79))
  }

  test("ragged edge, pad=extend: replicated edge pixels") {
    val dir = tmpDirWith("r.png" -> gradientPng(100, 64))
    val t = Tiling.tiles(Tiling.scanImages(spark, dir.toString),
      Tiling.TileParams(tileSize = 64, padOption = "extend"))
    val byName = t.collect().map(r => r.getAs[String]("file_name") -> r.getAs[Array[Byte]]("data")).toMap
    // 100//64 = 1 h-tile... step=64: h_tiles=1, so only tile_0_0 — use overlap
    assert(byName.contains("r_tile_0_0.png"))
    val t2 = Tiling.tiles(Tiling.scanImages(spark, dir.toString),
      Tiling.TileParams(tileSize = 64, overlap = 0.5, padOption = "extend"))
    val m = t2.collect().map(r => r.getAs[String]("file_name") -> r.getAs[Array[Byte]]("data")).toMap
    // step=32: h_tiles = 100//32 = 3; i=2 -> left=64, right=min(128,100)=100 → ragged 36 wide
    val ragged = ImageIO.read(new java.io.ByteArrayInputStream(m("r_tile_2_0.png")))
    assert(ragged.getWidth == 64 && ragged.getHeight == 64)
    // inside the real crop: (0,0) = source (64,0)
    assert(px(ragged, 0, 0) == (64, 0, 64))
    // beyond x=35 the last real column (source x=99) is replicated
    assert(px(ragged, 35, 10) == (99, 10, 109))
    assert(px(ragged, 50, 10) == (99, 10, 109))
  }

  test("ragged edge, pad=square: black canvas beyond the crop") {
    val dir = tmpDirWith("s.png" -> gradientPng(100, 64))
    val t = Tiling.tiles(Tiling.scanImages(spark, dir.toString),
      Tiling.TileParams(tileSize = 64, overlap = 0.5, padOption = "square"))
    val m = t.collect().map(r => r.getAs[String]("file_name") -> r.getAs[Array[Byte]]("data")).toMap
    val sq = ImageIO.read(new java.io.ByteArrayInputStream(m("s_tile_2_0.png")))
    assert(px(sq, 0, 0) == (64, 0, 64))   // real pixel
    assert(px(sq, 40, 10) == (0, 0, 0))   // padded area is black
  }

  test("auto adjust: edge tile slides back, full pixels, no padding") {
    val dir = tmpDirWith("a.png" -> gradientPng(100, 64))
    val t = Tiling.tiles(Tiling.scanImages(spark, dir.toString),
      Tiling.TileParams(tileSize = 64, overlap = 0.5, padOption = "auto"))
    val m = t.collect().map(r => r.getAs[String]("file_name") -> r.getAs[Array[Byte]]("data")).toMap
    val adj = ImageIO.read(new java.io.ByteArrayInputStream(m("a_tile_2_0.png")))
    // box slid to left = 100-64 = 36: (0,0) = source (36,0)
    assert(adj.getWidth == 64 && px(adj, 0, 0) == (36, 0, 36))
  }

  test("writeTiles writes tiles + caption sidecars; empty-dir precondition enforced") {
    val in = tmpDirWith("w.png" -> gradientPng(128, 64))
    val out = Files.createTempDirectory("graft-out")
    val n = Tiling.writeTiles(spark, in.toString, out.toString,
      Tiling.TileParams(tileSize = 64, caption = "a test caption"))
    assert(n == 2)
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names == Set("w_tile_0_0.png", "w_tile_1_0.png",
      "w_tile_0_0.txt", "w_tile_1_0.txt"))
    assert(Files.readString(out.resolve("w_tile_0_0.txt")) == "a test caption")
    // a blank caption writes no sidecars, and the count is still of tiles
    val bare = Files.createTempDirectory("graft-out-bare")
    assert(Tiling.writeTiles(spark, in.toString, bare.toString,
      Tiling.TileParams(tileSize = 64, caption = " \t")) == 2)
    assert(Files.list(bare).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("w_tile_0_0.png", "w_tile_1_0.png"))
    // K6: second run into the now-non-empty folder must refuse
    intercept[java.io.IOException] {
      Tiling.writeTiles(spark, in.toString, out.toString, Tiling.TileParams(tileSize = 64))
    }
    // K5: zip packaging excludes itself, flattens names
    val zip = Sinks.zipDir(out.toString)
    val zf = new java.util.zip.ZipFile(zip.toFile)
    try assert(zf.entries().asScala.map(_.getName).toSet == names)
    finally zf.close()
  }

  test("prepareImages routes compatible/incompatible and center-crops") {
    // tile=64 overlap=0.25 → step=48: 160x112 compatible ((96)%48==0 && (48)%48==0);
    // 150x100 incompatible → recommended 112x64? ((150-64)//48)*48+64=112, ((100-64)//48)*48+64=64
    // a PNG cut inside its header has no dims: counted nowhere, written nowhere
    val in = tmpDirWith("good.png" -> gradientPng(160, 112),
                        "bad.png" -> gradientPng(150, 100),
                        "trunc.png" -> gradientPng(150, 100).take(20))
    val out = Files.createTempDirectory("graft-prep")
    val (nGood, nBad) = Tiling.prepareImages(spark, in.toString, out.toString, 64, 0.25)
    assert((nGood, nBad) == (1L, 1L))
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names == Set("good.png", "bad_cropped.png", "bad.txt"))
    assert(Files.readString(out.resolve("bad.txt")).startsWith("Recommended crop size: 112 x 64"))
    val cropped = ImageIO.read(out.resolve("bad_cropped.png").toFile)
    assert(cropped.getWidth == 112 && cropped.getHeight == 64)
    // center crop: left = (150-112)/2 = 19, top = (100-64)/2 = 18
    assert(px(cropped, 0, 0) == (19, 18, 37))
    // an empty folder still reports its (zero) counts
    assert(Tiling.prepareImages(spark, tmpDirWith().toString,
      Files.createTempDirectory("graft-prep-empty").resolve("out").toString, 64, 0.25) == ((0L, 0L)))
  }

  test("convertImages transcodes png -> jpg, decodable with same dims") {
    // an undecodable file is skipped: neither written nor counted
    val in = tmpDirWith("c.png" -> gradientPng(80, 60), "junk.png" -> "not an image".getBytes)
    val out = Files.createTempDirectory("graft-conv")
    val n = Tiling.convertImages(spark, in.toString, out.toString, "jpg", quality = 95)
    assert(n == 1)
    assert(Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet == Set("c.jpg"))
    val img = ImageIO.read(out.resolve("c.jpg").toFile)
    assert(img.getWidth == 80 && img.getHeight == 60)
  }

  test("convertImages transcodes png -> webp LOSSLESSLY (VP8L write + read back)") {
    // the reference conversion matrix includes webp (other_tasks.py:59-60);
    // the r7 VP8L coder closes it offline — and lossless means the pixels
    // survive the round trip EXACTLY, unlike the jpg leg above
    val in = tmpDirWith("c.png" -> gradientPng(80, 60))
    val out = Files.createTempDirectory("graft-conv-webp")
    val n = Tiling.convertImages(spark, in.toString, out.toString, "webp", quality = 0)
    assert(n == 1)
    val bytes = Files.readAllBytes(out.resolve("c.webp"))
    val img = Vp8l.decode(bytes).getOrElse(fail("webp output did not decode"))
    val src = ImageIO.read(new java.io.ByteArrayInputStream(gradientPng(80, 60)))
    assert(img.getWidth == 80 && img.getHeight == 60)
    for (y <- 0 until 60; x <- 0 until 80)
      assert((img.getRGB(x, y) & 0xffffff) == (src.getRGB(x, y) & 0xffffff),
        s"pixel ($x,$y)")
  }

  test("convertImages with quality > 0 writes LOSSY webp (VP8 keyframe)") {
    // quality engages the r8 VP8 lossy coder — the other half of the webp
    // cell (PIL saves .webp lossy by default); smooth content survives
    // within a tight per-pixel band
    val in = tmpDirWith("c.png" -> gradientPng(80, 60))
    val out = Files.createTempDirectory("graft-conv-webpq")
    val n = Tiling.convertImages(spark, in.toString, out.toString, "webp", quality = 85)
    assert(n == 1)
    val bytes = Files.readAllBytes(out.resolve("c.webp"))
    assert(Vp8l.decode(bytes).isEmpty) // not the lossless coder's output
    val img = Vp8.decode(bytes).getOrElse(fail("lossy webp output did not decode"))
    val src = ImageIO.read(new java.io.ByteArrayInputStream(gradientPng(80, 60)))
    assert(img.getWidth == 80 && img.getHeight == 60)
    for (y <- 0 until 60; x <- 0 until 80; shift <- Seq(16, 8, 0)) {
      val d = ((img.getRGB(x, y) >> shift) & 0xff) - ((src.getRGB(x, y) >> shift) & 0xff)
      assert(math.abs(d) <= 24, s"pixel ($x,$y) channel $shift off by $d")
    }
  }

  test("resize: exact dims, solid color preserved, 2x downscale averages gradient") {
    import spark.implicits._
    // solid-color image: any interpolation must return the same color
    val solid = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    val g2 = solid.createGraphics()
    g2.setColor(new java.awt.Color(10, 200, 30)); g2.fillRect(0, 0, 64, 64); g2.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(solid, "png", bos)
    val df = Seq(bos.toByteArray).toDF("content")
      .select(ImageCodec.resize(col("content"), lit(16), lit(24), lit("png"), lit(0)).as("out"))
    val outBytes = df.collect().head.getAs[Array[Byte]](0)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(outBytes))
    assert(img.getWidth == 16 && img.getHeight == 24)
    assert(px(img, 8, 12) == (10, 200, 30))
    // null payload -> null result
    val nulls = Seq(Option.empty[Array[Byte]]).toDF("content")
      .select(ImageCodec.resize(col("content"), lit(8), lit(8), lit("png"), lit(0)))
    assert(nulls.collect().head.isNullAt(0))
  }

  test("num_tiles override: tile = min(W,H) // int(sqrt(n))") {
    val dir = tmpDirWith("n.png" -> gradientPng(200, 120))
    val t = Tiling.tiles(Tiling.scanImages(spark, dir.toString),
      Tiling.TileParams(numTiles = 4, overlap = 0.0))
    // tile = 120//2 = 60, step = 60: h_tiles = 200//60 = 3, v_tiles = 2
    assert(t.count() == 6)
    val first = t.orderBy("file_name").collect().head
    val img = ImageIO.read(new java.io.ByteArrayInputStream(first.getAs[Array[Byte]]("data")))
    assert(img.getWidth == 60 && img.getHeight == 60)
  }

  test("tiles == cropEncode on each row's box: every pad option, png and jpg, num_tiles") {
    // one decode per image must give the bytes of one decode per tile;
    // the PNG cut after its header has dims but no pixels, so its tiles
    // keep null data
    val dir = tmpDirWith("r.png" -> gradientPng(100, 64), "w.png" -> gradientPng(130, 90),
      "trunc.png" -> gradientPng(150, 100).take(60))
    val scan = Tiling.scanImages(spark, dir.toString)
    val content = scan.select(col("path"), col("content"))
    for (pad <- Seq("none", "extend", "square", "auto"); fmt <- Seq("None", "JPG");
         numTiles <- Seq(0, 4)) {
      val p = Tiling.TileParams(tileSize = 64, overlap = 0.5, numTiles = numTiles,
        padOption = pad, format = fmt)
      val ext = if (fmt == "JPG") "jpg" else "png"
      val tile =
        if (numTiles > 0) expr("least(width, height) div 2") else lit(64L)
      val rows = Tiling.tiles(scan, p).join(content, "path")
        .select(col("file_name"), col("data"),
          ImageCodec.cropEncode(col("content"), col("left").cast("int"),
            col("upper").cast("int"), col("right").cast("int"), col("lower").cast("int"),
            tile.cast("int"), lit(pad), lit(ext), lit(p.quality)).as("ref"))
        .collect()
      val what = s"pad=$pad fmt=$fmt numTiles=$numTiles"
      assert(rows.count(_.getString(0).startsWith("trunc_")) > 0, what)
      rows.foreach { r =>
        val name = r.getString(0)
        if (name.startsWith("trunc_")) assert(r.isNullAt(1), s"$what $name")
        else assert(!r.isNullAt(1) && java.util.Arrays.equals(
          r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)), s"$what $name")
      }
    }
  }
}

object TilingSpec {

  /** Deterministic gradient: pixel(x,y) = rgb(x%256, y%256, (x+y)%256). */
  def gradientPng(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x % 256) << 16) | ((y % 256) << 8) | ((x + y) % 256))
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  def tmpDirWith(files: (String, Array[Byte])*): Path = {
    val dir = Files.createTempDirectory("graft-img")
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    dir
  }
}
