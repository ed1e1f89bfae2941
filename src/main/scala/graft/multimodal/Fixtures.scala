package graft.multimodal

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic media-container fixtures + the registered query (q88)
  * that drives the container parsers through the ORACLE gate.
  *
  * The harness tables carry no binary column, so the multimodal tier
  * (GIF/AVI/MP3/MP4/WAV parsers — `Gif`/`Avi`/`Mp3`/`Mp4`/`Multimodal`)
  * was spec-only until this file: q88 GENERATES a folder of real
  * container bytes with hand-chosen properties (every builder below
  * follows the public container spec — RIFF/WAVE, MPEG frame headers,
  * GIF89a via the JDK encoder, ISO-BMFF boxes), scans it with Spark's
  * `binaryFile` source, parses audio/video metadata from the raw bytes,
  * and hash-compares against a DuckDB VALUES oracle holding the
  * ground-truth properties the fixtures were BUILT with. A parser
  * regression (wrong duration math, broken frame walk, lost quarantine)
  * now breaks the correctness gate, not just a spec.
  *
  * The folder is landed once per (application, dir) by
  * `io.Layout.landFiles`, and the fixtures are deliberately tiny: the
  * query measures parser correctness, not I/O.
  */
object Fixtures {

  // ------------------------------------------------------- byte builders

  /** PCM 16-bit WAV, little-endian RIFF/WAVE with interleaved frames. */
  def wavBytes(sampleRate: Int, channels: Int, frames: Int): Array[Byte] = {
    val dataLen = frames * channels * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataLen); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(channels.toShort)
    bb.putInt(sampleRate); bb.putInt(sampleRate * channels * 2)
    bb.putShort((channels * 2).toShort); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(dataLen)
    var i = 0
    while (i < frames * channels) { bb.putShort((i % 251).toShort); i += 1 }
    bb.array()
  }

  /** MPEG-1 Layer III, 128 kbps 44100 Hz stereo: header 0xFFFB9000,
    * frame length 1152/8*128000/44100 = 417 bytes, `nFrames` frames. */
  def mp3Bytes(nFrames: Int): Array[Byte] = {
    val frame = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00) ++
      Array.fill[Byte](417 - 4)(0)
    Array.fill(nFrames)(frame).flatten
  }

  /** Animated GIF via the JDK encoder: solid-color frames with explicit
    * per-frame GCE delays (centiseconds). */
  def gifBytes(w: Int, h: Int, frames: Seq[(Int, Int)]): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val baos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for ((rgb, delayCs) <- frames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      val param = writer.getDefaultWriteParam
      val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = {
        var c = tree.getFirstChild
        var found: IIOMetadataNode = null
        while (c != null) {
          if (c.getNodeName == "GraphicControlExtension")
            found = c.asInstanceOf[IIOMetadataNode]
          c = c.getNextSibling
        }
        if (found == null) {
          val n = new IIOMetadataNode("GraphicControlExtension")
          tree.appendChild(n); n
        } else found
      }
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("transparentColorIndex", "0")
      gce.setAttribute("delayTime", delayCs.toString)
      meta.setFromTree(fmt, tree)
      writer.writeToSequence(new IIOImage(img, null, meta), param)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  /** Solid-color baseline JPEG via the JDK encoder (AVI frame payload). */
  def jpegBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", baos)
    baos.toByteArray
  }

  /** Minimal MJPEG AVI: RIFF('AVI ' LIST hdrl(avih, LIST strl(strh,
    * strf)) LIST movi(00dc...)), little-endian, even-padded chunks. */
  def aviBytes(w: Int, h: Int, scale: Int, rate: Int,
               frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("ISO-8859-1") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def list(typ: String, bodies: Array[Byte]*): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ bodies.flatten)
    val fps = rate.toDouble / scale
    val avih = le32(math.round(1e6 / fps)) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.size) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill[Byte](16)(0)
    val strh = "vids".getBytes("ISO-8859-1") ++ "MJPG".getBytes("ISO-8859-1") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(scale) ++ le32(rate) ++ le32(0) ++
      le32(frames.size) ++ le32(0) ++ le32(0) ++ le32(0) ++ Array.fill[Byte](8)(0)
    val vidStrl = list("strl", chunk("strh", strh),
      chunk("strf", Array.fill[Byte](40)(0)))
    val hdrl = list("hdrl", chunk("avih", avih), vidStrl)
    val movi = list("movi", frames.map(f => chunk("00dc", f)): _*)
    val body = "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  /** Minimal ISO-BMFF tree: 640×360, movie timescale 600 / duration 6000
    * ticks (10 s), one video track, stts = 240 samples × 25 ticks → 24 fps. */
  def mp4Bytes(): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length); bb.put(typ.getBytes("ISO-8859-1")); bb.put(body)
      bb.array()
    }
    def be32(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    def be16(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(2).putShort(v.toShort).array()
    val verflags = be32(0)
    val mvhd = box("mvhd", verflags, be32(0), be32(0), be32(600), be32(6000),
      Array.fill[Byte](80)(0))
    val tkhd = box("tkhd", verflags, be32(0), be32(0), be32(1), be32(0), be32(6000),
      Array.fill[Byte](16)(0), Array.fill[Byte](36)(0),
      be16(640), be16(0), be16(360), be16(0))
    val mdhd = box("mdhd", verflags, be32(0), be32(0), be32(600), be32(6000), be16(0), be16(0))
    val hdlr = box("hdlr", verflags, be32(0), "vide".getBytes("ISO-8859-1"),
      Array.fill[Byte](13)(0))
    val stts = box("stts", verflags, be32(1), be32(240), be32(25))
    val mdia = box("mdia", mdhd, hdlr, box("minf", box("stbl", stts)))
    val trak = box("trak", tkhd, mdia)
    val ftyp = box("ftyp", "isom".getBytes, be32(512), "isomiso2".getBytes)
    ftyp ++ box("moov", mvhd, trak) ++ box("mdat", Array[Byte](1, 2, 3))
  }

  /** Solid color of the webp fixture (round-trips through
    * [[graft.images.Vp8l]] and the ImageCodec pixel path). */
  val WebpFixtureArgb: Int = 0xff2060a0

  /** COMPLETE lossless-WebP (VP8L) file with the given canvas dims — a
    * solid [[WebpFixtureArgb]] image coded as five single-symbol Huffman
    * trees (zero data bits per pixel; the same shape libwebp emits for
    * solid images). Upgraded from the r6 header-only skeleton now that
    * [[graft.images.Vp8l]] decodes the full bitstream: the fixture
    * exercises header dims (q88) AND real pixel decode (Vp8lSpec). */
  def webpBytes(w: Int, h: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // LSB-first bit accumulation (the VP8L bit order)
    val bits = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var acc = 0L
    var nAcc = 0
    def put(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nAcc
      nAcc += n
      while (nAcc >= 8) { bits += (acc & 0xff).toByte; acc >>>= 8; nAcc -= 8 }
    }
    val argb = WebpFixtureArgb
    put(0x2f, 8)
    put(w - 1, 14); put(h - 1, 14)
    put(1, 1) // alpha hint
    put(0, 3) // version
    put(0, 1) // no transforms
    put(0, 1) // no color cache
    put(0, 1) // no meta huffman
    def singleSymbolCode(sym: Int): Unit = {
      put(1, 1) // simple code
      put(0, 1) // one symbol
      put(1, 1) // 8-bit symbol
      put(sym, 8)
    }
    singleSymbolCode((argb >>> 8) & 0xff)  // green
    singleSymbolCode((argb >>> 16) & 0xff) // red
    singleSymbolCode(argb & 0xff)          // blue
    singleSymbolCode(argb >>> 24)          // alpha
    singleSymbolCode(0)                    // distance
    if (nAcc > 0) bits += (acc & 0xff).toByte
    val payload = bits.toArray
    "RIFF".getBytes("ISO-8859-1") ++ le32(4 + 8 + payload.length) ++
      "WEBP".getBytes("ISO-8859-1") ++ "VP8L".getBytes("ISO-8859-1") ++
      le32(payload.length) ++ payload
  }

  /** HEIC skeleton: ftyp + meta/iprp/ipco with one `ispe` per item
    * (thumbnail, primary, …). Header parsers report the max-area entry —
    * the primary image. */
  def heicBytes(ispes: Seq[(Int, Int)]): Array[Byte] = {
    def be32(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ t.getBytes("ISO-8859-1") ++ body
    val ispeBoxes = ispes.map { case (w, h) =>
      box("ispe", be32(0) ++ be32(w) ++ be32(h))
    }.foldLeft(Array.empty[Byte])(_ ++ _)
    box("ftyp", "heic".getBytes("ISO-8859-1") ++ be32(0) ++
        "mif1heic".getBytes("ISO-8859-1")) ++
      box("meta", be32(0) ++ box("iprp", box("ipco", ispeBoxes))) ++
      box("mdat", Array[Byte](1, 2, 3))
  }

  /** FLAC "fLaC" magic + a last-flag STREAMINFO block (34 bytes) — the
    * header tier [[Flac.parse]] reads; no frames needed. */
  def flacBytes(sampleRate: Int, channels: Int, totalSamples: Long): Array[Byte] = {
    val si = new Array[Byte](34)
    // min/max blocksize = 4096, frame sizes 0 (unknown)
    si(0) = 0x10; si(1) = 0x00; si(2) = 0x10; si(3) = 0x00
    si(10) = ((sampleRate >> 12) & 0xff).toByte
    si(11) = ((sampleRate >> 4) & 0xff).toByte
    si(12) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      ((16 - 1) >> 4)).toByte          // bps-1 high bit
    si(13) = ((((16 - 1) & 0xf) << 4) | ((totalSamples >> 32) & 0xf)).toInt.toByte
    si(14) = ((totalSamples >> 24) & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    "fLaC".getBytes("ISO-8859-1") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ si
  }

  /** Two-page Ogg/Vorbis skeleton: BOS page carrying the identification
    * header, then an EOS page whose granule position encodes the total
    * PCM samples — the two fields [[Ogg.parse]] reads. CRCs zeroed (the
    * parser routes metadata; it is not a strict decoder). */
  def oggBytes(sampleRate: Int, channels: Int, totalSamples: Long): Array[Byte] = {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le64(v: Long): Array[Byte] =
      (0 until 8).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def page(headerType: Int, granule: Long, seq: Int,
             payload: Array[Byte]): Array[Byte] =
      "OggS".getBytes("ISO-8859-1") ++ Array(0.toByte, headerType.toByte) ++
        le64(granule) ++ le32(1) ++ le32(seq) ++ le32(0) ++
        Array(1.toByte, payload.length.toByte) ++ payload
    val idHeader = Array(1.toByte) ++ "vorbis".getBytes("ISO-8859-1") ++
      le32(0) ++ Array(channels.toByte) ++ le32(sampleRate) ++
      le32(0) ++ le32(0) ++ le32(0) ++ Array(0xb8.toByte, 1.toByte)
    page(0x02, 0L, 0, idHeader) ++
      page(0x04, totalSamples, 1, Array[Byte](0))
  }

  /** TIFF-family RAW skeleton: little-endian TIFF with chained IFDs, one
    * (ImageWidth, ImageLength) SHORT pair each — IFD0 plays the thumbnail
    * role, a later IFD the primary (larger) frame. `cr2` stamps Canon's
    * "CR" marker at offset 8; `dng` adds a DNGVersion tag to IFD0. The
    * fields [[graft.images.HeaderDims.rawDims]] reads, nothing more. */
  def rawTiffBytes(dims: Seq[(Int, Int)], flavor: String): Array[Byte] = {
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def entry(tagId: Int, typ: Int, cnt: Long, value: Long): Array[Byte] =
      le16(tagId) ++ le16(typ) ++ le32(cnt) ++
        (if (typ == 3) le16(value.toInt) ++ le16(0) else le32(value))
    val header = "II".getBytes("ISO-8859-1") ++ le16(42) ++ le32(12) ++
      (if (flavor == "cr2") "CR".getBytes("ISO-8859-1") ++ le16(2)
       else Array.fill[Byte](4)(0))
    // each IFD: count(2) + entries(12 each) + nextPtr(4)
    def ifdLen(extra: Int) = 2 + 12 * (2 + extra) + 4
    val offsets = dims.indices.scanLeft(12) { (acc, i) =>
      acc + ifdLen(if (i == 0 && flavor == "dng") 1 else 0)
    }
    val ifds = dims.zipWithIndex.map { case ((w, h), i) =>
      val extra =
        if (i == 0 && flavor == "dng")
          Seq(entry(0xc612, 1, 4, 0x00000401L)) // DNGVersion 1.4.0.0
        else Seq.empty
      val es = Seq(entry(256, 3, 1, w), entry(257, 3, 1, h)) ++ extra
      val next = if (i == dims.length - 1) 0L else offsets(i + 1).toLong
      le16(es.length) ++ es.flatten.toArray ++ le32(next)
    }
    header ++ ifds.flatten.toArray
  }

  // --------------------------------------------------- the fixture corpus

  /** (name, bytes) for every fixture file. Properties here are the SOURCE
    * of the oracle's VALUES — change one and the oracle must change with
    * it. */
  /** Committed binary fixture from the main-resources classpath (the
    * FLAC reference-encoder outputs — see tools/gen_flac_fixtures.py). */
  private def resourceBytes(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing fixture resource $path")
    try in.readAllBytes() finally in.close()
  }

  def fixtureFiles(): Seq[(String, Array[Byte])] = Seq(
    // 8000 Hz mono, 4000 frames → 500 ms
    "clip_a.wav" -> wavBytes(8000, 1, 4000),
    // 16000 Hz stereo, 12000 frames → 750 ms
    "clip_b.wav" -> wavBytes(16000, 2, 12000),
    // 20 MPEG1-L3 frames × 1152 samples at 44100 Hz → 23040000/44100 = 522 ms
    "song_c.mp3" -> mp3Bytes(20),
    // 13×7, two frames of 10 cs → 200 ms, 10 fps
    "anim_d.gif" -> gifBytes(13, 7, Seq((0xff0000, 10), (0x0000ff, 10))),
    // 32×24 MJPEG, 6 frames at rate/scale = 4/1 → 4 fps, 1500 ms
    "vid_e.avi" -> aviBytes(32, 24, scale = 1, rate = 4,
      frames = (0 until 6).map(i => jpegBytes(32, 24, 0x102030 * (i + 1)))),
    // 640×360, 24 fps, 10000 ms
    "movie_f.mp4" -> mp4Bytes(),
    // 100×50 lossless WebP — full VP8L file (pixels decode via Vp8l)
    "photo_h.webp" -> webpBytes(100, 50),
    // HEIC with a 160×120 thumbnail ispe + 4032×3024 primary → primary wins
    "photo_i.heic" -> heicBytes(Seq((160, 120), (4032, 3024))),
    // 22050 Hz stereo FLAC, 11025 samples → 500 ms (STREAMINFO only)
    "tune_j.flac" -> flacBytes(22050, 2, 11025),
    // 48000 Hz mono Ogg/Vorbis, granule 24000 → 500 ms
    "voice_k.ogg" -> oggBytes(48000, 1, 24000),
    // full FLAC streams (frames, not just STREAMINFO) from the committed
    // reference-encoder fixtures — 22050 Hz stereo 4410 samples → 200 ms
    // and 8000 Hz mono 24-bit 2000 samples → 250 ms; q88 reads their
    // metadata tier, q204 decodes their PCM (FlacDecode)
    "tune_n.flac" -> resourceBytes("/flac/tune_n.flac"),
    "tune_o.flac" -> resourceBytes("/flac/tune_o.flac"),
    // CR2 RAW: IFD0 thumbnail 160×120, primary IFD 5760×3840 wins
    "photo_l.cr2" -> rawTiffBytes(Seq((160, 120), (5760, 3840)), "cr2"),
    // DNG RAW: DNGVersion-tagged IFD0 thumbnail, 6000×4000 primary
    "photo_m.dng" -> rawTiffBytes(Seq((256, 171), (6000, 4000)), "dng"),
    // no parser recognizes it → quarantine row (all-null metadata)
    "junk_g.bin" -> "definitely not a media container, kept for quarantine".getBytes)

  /** The fixture folder, landed once per (application, dir); returns its
    * path. Files are KBs and written driver-side — this is test-corpus
    * landing, not a data path. */
  def mediaFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "media_fixtures", dir)(fixtureFiles())

  // ------------------------------------------------------------- q88

  /** q88: container metadata from raw bytes, oracle-gated. One binaryFile
    * scan → both metadata parsers as columns → typed struct fields
    * flattened. `kind` encodes the routing a real pipeline would do
    * (audio tier / video tier / quarantine); unparseable payloads stay as
    * an all-null row rather than vanishing — the quarantine contract.
    * Scale shape: binaryFile parallelizes per file, the parsers are
    * header-cost (sample data never touched), and the projected schema is
    * the slim metadata struct — payload bytes never reach the shuffle. */
  def mediaMetadata(spark: SparkSession, dir: String): DataFrame = {
    val folder = mediaFolder(spark, dir)
    // Routing precedence: audio → video → image → quarantine. Video
    // before image matters: an animated GIF parses under BOTH (frame
    // metadata vs still dims) and belongs to the video tier. The image
    // tier covers WebP/HEIC via header dims (reference scan accepts
    // them, tiling.py:87); lossless WebP additionally pixel-decodes
    // through graft.images.Vp8l, HEIC stays header-only.
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        Multimodal.audioMetaFromBytes(col("content")).as("a"),
        Multimodal.videoMetaFromBytes(col("content")).as("v"),
        graft.images.ImageCodec.imageDims(col("content")).as("i"))
      .select(col("file"),
        when(col("a").isNotNull, "audio")
          .when(col("v").isNotNull, "video")
          .when(col("i").isNotNull, "image")
          .otherwise("quarantine").as("kind"),
        col("a.sample_rate").as("sample_rate"), col("a.channels").as("channels"),
        col("a.duration_ms").as("audio_ms"),
        coalesce(col("v.width"), col("i._1")).as("width"),
        coalesce(col("v.height"), col("i._2")).as("height"),
        col("v.fps").as("fps"), col("v.duration_ms").as("video_ms"))
      .orderBy(col("file"))
  }

  /** Ground truth the fixtures were built with (see [[fixtureFiles]]). */
  val mediaMetadataSql: String =
    """SELECT * FROM (VALUES
      |  ('anim_d.gif',  'video',      CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(13 AS INT),  CAST(7 AS INT),    CAST(10.0 AS DOUBLE), CAST(200 AS BIGINT)),
      |  ('clip_a.wav',  'audio',      CAST(8000 AS INT),  CAST(1 AS INT),  CAST(500 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('clip_b.wav',  'audio',      CAST(16000 AS INT), CAST(2 AS INT),  CAST(750 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('junk_g.bin',  'quarantine', CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('movie_f.mp4', 'video',      CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(640 AS INT), CAST(360 AS INT),  CAST(24.0 AS DOUBLE), CAST(10000 AS BIGINT)),
      |  ('photo_h.webp', 'image',     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(100 AS INT), CAST(50 AS INT),   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('photo_i.heic', 'image',     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(4032 AS INT), CAST(3024 AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('photo_l.cr2', 'image',     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(5760 AS INT), CAST(3840 AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('photo_m.dng', 'image',     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(6000 AS INT), CAST(4000 AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('song_c.mp3',  'audio',      CAST(44100 AS INT), CAST(2 AS INT),  CAST(522 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('tune_j.flac', 'audio',      CAST(22050 AS INT), CAST(2 AS INT),  CAST(500 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('tune_n.flac', 'audio',      CAST(22050 AS INT), CAST(2 AS INT),  CAST(200 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('tune_o.flac', 'audio',      CAST(8000 AS INT),  CAST(1 AS INT),  CAST(250 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('voice_k.ogg', 'audio',      CAST(48000 AS INT), CAST(1 AS INT),  CAST(500 AS BIGINT),
      |     CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)),
      |  ('vid_e.avi',   'video',      CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
      |     CAST(32 AS INT),  CAST(24 AS INT),   CAST(4.0 AS DOUBLE),  CAST(1500 AS BIGINT))
      |) AS t(file, kind, sample_rate, channels, audio_ms, width, height, fps, video_ms)
      |ORDER BY file""".stripMargin

  // ------------------------------------------------ q204 exact PCM decode

  /** q204: SAMPLE-EXACT audio decode through the oracle gate — the
    * companion to q88's metadata tier. Every audio fixture whose payload
    * decodes to integer PCM (FLAC frames via the pure-JVM
    * [[FlacDecode]]; WAV via the JDK codec) emits its stream params,
    * frame count and a positional FNV fold of the interleaved samples;
    * the oracle VALUES hold the fingerprints the independent reference
    * encoder computed over the PCM it ENCODED (tools/
    * gen_flac_fixtures.py prints them), so a reconstruction error
    * anywhere — predictor, Rice decode, stereo undo, channel order —
    * breaks the correctness gate, not just a spec. Metadata-only audio
    * (MP3/OGG/the frameless tune_j.flac) quarantines out of this tier
    * and stays q88's. Scale shape: binaryFile parallelizes per file,
    * decode is a per-row kernel, and only the slim summary struct
    * survives the scan. */
  def audioPcm(spark: SparkSession, dir: String): DataFrame = {
    val folder = mediaFolder(spark, dir)
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        Multimodal.decodePcmInfo(col("content")).as("p"))
      .filter(col("p").isNotNull)
      .select(col("file"), col("p.sample_rate").as("sample_rate"),
        col("p.channels").as("channels"), col("p.bits").as("bits"),
        col("p.n_samples").as("n_samples"), col("p.pcm_fp").as("pcm_fp"))
      .orderBy(col("file"))
  }

  /** Ground truth printed by tools/gen_flac_fixtures.py (FLAC rows: the
    * fold over the encoder's input PCM; WAV rows: the fold over the
    * wavBytes i % 251 pattern). */
  val audioPcmSql: String =
    """SELECT * FROM (VALUES
      |  ('clip_a.wav',  CAST(8000 AS INT),  CAST(1 AS INT), CAST(16 AS INT),
      |     CAST(4000 AS BIGINT),  CAST(-3287603897166183003 AS BIGINT)),
      |  ('clip_b.wav',  CAST(16000 AS INT), CAST(2 AS INT), CAST(16 AS INT),
      |     CAST(12000 AS BIGINT), CAST(5295057861643737189 AS BIGINT)),
      |  ('tune_n.flac', CAST(22050 AS INT), CAST(2 AS INT), CAST(16 AS INT),
      |     CAST(4410 AS BIGINT),  CAST(6305629066899487131 AS BIGINT)),
      |  ('tune_o.flac', CAST(8000 AS INT),  CAST(1 AS INT), CAST(24 AS INT),
      |     CAST(2000 AS BIGINT),  CAST(-981229707724273998 AS BIGINT))
      |) AS t(file, sample_rate, channels, bits, n_samples, pcm_fp)
      |ORDER BY file""".stripMargin

  // ------------------------------------------------ q205 FLAC round-trip

  /** q205: the WRITE half of the audio conversion tier under the oracle
    * gate — every decodable audio fixture is decoded, RE-ENCODED with the
    * pure-JVM [[FlacEncode]], decoded again by [[FlacDecode]] (which
    * re-verifies the CRC-8/CRC-16/MD5 ladder the encoder wrote), and the
    * summary must hash-match q204's ground-truth literals EXACTLY: the
    * encoder is thereby proven lossless at native bit depth AND
    * integrity-correct, against fingerprints that predate it (computed by
    * the independent reference encoder over the original PCM). WAV rows
    * additionally prove the cross-format WAV→FLAC conversion path. */
  def audioRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val folder = mediaFolder(spark, dir)
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        Multimodal.pcmRoundtripInfo(col("content")).as("p"))
      .filter(col("p").isNotNull)
      .select(col("file"), col("p.sample_rate").as("sample_rate"),
        col("p.channels").as("channels"), col("p.bits").as("bits"),
        col("p.n_samples").as("n_samples"), col("p.pcm_fp").as("pcm_fp"))
      .orderBy(col("file"))
  }

  // ------------------------------------------------ q159 frame-sample plan

  /** q159: deterministic frame-sampling PLAN from container metadata —
    * the scheduling half of video ingest, separated from decode so the
    * expensive part touches exactly the planned frames: per video, up to
    * `FrameBudget` evenly-spaced frame indices with their presentation
    * timestamps. A training pipeline materializes this plan, then a
    * decode pass (`Multimodal.videoFrames` for GIF/MJPEG-AVI; the AVC
    * stub elsewhere) extracts only `frame_idx ∈ plan` — never
    * decode-all-then-sample.
    *
    * All integer arithmetic so the plan hash-gates: fps enters as exact
    * milli-fps (fixture rates are integral), frame count =
    * `fps_milli·duration_ms div 10⁶`, the i-th pick is `i·n div k`
    * (floor-even spacing, duplicate-free since k ≤ n), and its timestamp
    * inverts through the same milli-fps. One header-cost scan; the
    * explode multiplies only the ≤ budget·videos plan rows. Oracle = the
    * fixture ground truth (q88 discipline). */
  val FrameBudget = 8L

  def frameSamplePlan(spark: SparkSession, dir: String): DataFrame = {
    val folder = mediaFolder(spark, dir)
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        Multimodal.videoMetaFromBytes(col("content")).as("v"))
      .filter(col("v").isNotNull)
      .select(col("file"),
        (col("v.fps") * 1000).cast("long").as("fps_milli"),
        col("v.duration_ms").as("video_ms"))
      .withColumn("n_frames", expr("fps_milli * video_ms div 1000000"))
      .withColumn("k", least(lit(FrameBudget), col("n_frames")))
      .filter(col("k") > 0)
      .select(col("file"), col("fps_milli"), col("n_frames"), col("k"),
        explode(sequence(lit(0L), col("k") - 1, lit(1L))).as("sample_ord"))
      .withColumn("frame_idx", expr("sample_ord * n_frames div k"))
      .withColumn("ts_ms", expr("frame_idx * 1000000 div fps_milli"))
      .select(col("file"), col("sample_ord"), col("frame_idx"), col("ts_ms"))
      .orderBy(col("file"), col("sample_ord"))
  }

  /** Ground truth the video fixtures were built with (see q88). */
  val frameSamplePlanSql: String =
    s"""WITH v AS (
       |  SELECT * FROM (VALUES
       |    ('anim_d.gif',  10000, 200),
       |    ('movie_f.mp4', 24000, 10000),
       |    ('vid_e.avi',    4000, 1500)
       |  ) AS t(file, fps_milli, video_ms)
       |), p AS (
       |  SELECT file, fps_milli,
       |    fps_milli * video_ms // 1000000 AS n_frames,
       |    LEAST($FrameBudget, fps_milli * video_ms // 1000000) AS k
       |  FROM v
       |), e AS (
       |  SELECT file, fps_milli, n_frames, k,
       |    unnest(generate_series(0, k - 1)) AS sample_ord
       |  FROM p WHERE k > 0
       |)
       |SELECT file, CAST(sample_ord AS BIGINT) AS sample_ord,
       |  CAST(sample_ord * n_frames // k AS BIGINT) AS frame_idx,
       |  CAST((sample_ord * n_frames // k) * 1000000 // fps_milli AS BIGINT) AS ts_ms
       |FROM e ORDER BY file, sample_ord""".stripMargin

  // ------------------------------------------------ q154 EXIF orientation

  /** JPEG bytes with an APP1/Exif segment spliced after SOI carrying
    * exactly one TIFF tag: Orientation (0x0112) = `orientation`.
    * Little-endian TIFF, IFD at offset 8 — the minimal well-formed Exif
    * a camera writes. */
  def jpegWithExif(w: Int, h: Int, rgb: Int, orientation: Int): Array[Byte] = {
    val base = jpegBytes(w, h, rgb)
    val tiff = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put("II".getBytes); tiff.putShort(42); tiff.putInt(8)
    tiff.putShort(1) // one IFD entry
    tiff.putShort(0x0112.toShort); tiff.putShort(3); tiff.putInt(1)
    tiff.putShort(orientation.toShort); tiff.putShort(0)
    tiff.putInt(0) // next-IFD pointer
    val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff.array()
    val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
      (((payload.length + 2) >> 8) & 0xff).toByte,
      ((payload.length + 2) & 0xff).toByte) ++ payload
    base.take(2) ++ app1 ++ base.drop(2)
  }

  /** q154: EXIF orientation audit — the ingest check a real image
    * pipeline cannot skip: tiles cut from a sensor-rotated JPEG without
    * honoring Orientation are silently rotated/mirrored training data.
    * One binaryFile scan → byte-level APP1/TIFF walk
    * (`HeaderDims.exifOrientation`) → display dims (90°-family
    * orientations 5-8 transpose width/height). Files without the tag
    * surface orientation 0 (distinct from the explicit top-left 1 — an
    * audit wants to KNOW the tag is absent); undecodable dims
    * quarantine as -1. Oracle = the ground truth the fixtures were
    * built with (q88 discipline). */
  def exifOrientationAudit(spark: SparkSession, dir: String): DataFrame = {
    val folder = exifFolder(spark, dir)
    val orient = udf { (bytes: Array[Byte]) =>
      graft.images.HeaderDims.exifOrientation(bytes).getOrElse(0)
    }
    spark.read.format("binaryFile").load(folder)
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        orient(col("content")).as("orientation"),
        graft.images.ImageCodec.imageDims(col("content")).as("d"))
      .select(col("file"), col("orientation"),
        coalesce(col("d._1"), lit(-1)).as("raw_w"),
        coalesce(col("d._2"), lit(-1)).as("raw_h"))
      .withColumn("disp_w",
        when(col("orientation") >= 5, col("raw_h")).otherwise(col("raw_w")))
      .withColumn("disp_h",
        when(col("orientation") >= 5, col("raw_w")).otherwise(col("raw_h")))
      .orderBy(col("file"))
  }

  private def exifFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "exif_fixtures", dir)(Seq(
      "cam_a_top.jpg" -> jpegWithExif(40, 30, 0x336699, 1),
      "cam_b_rot180.jpg" -> jpegWithExif(40, 30, 0x996633, 3),
      "cam_c_rot90cw.jpg" -> jpegWithExif(40, 30, 0x663399, 6),
      "cam_d_rot90ccw.jpg" -> jpegWithExif(40, 30, 0x399663, 8),
      "scan_e_untagged.jpg" -> jpegBytes(64, 48, 0x224488),
      "junk_f.bin" -> "not an image at all".getBytes))

  val exifOrientationAuditSql: String =
    """SELECT * FROM (VALUES
      |  ('cam_a_top.jpg',      CAST(1 AS INT), CAST(40 AS INT), CAST(30 AS INT), CAST(40 AS INT), CAST(30 AS INT)),
      |  ('cam_b_rot180.jpg',   CAST(3 AS INT), CAST(40 AS INT), CAST(30 AS INT), CAST(40 AS INT), CAST(30 AS INT)),
      |  ('cam_c_rot90cw.jpg',  CAST(6 AS INT), CAST(40 AS INT), CAST(30 AS INT), CAST(30 AS INT), CAST(40 AS INT)),
      |  ('cam_d_rot90ccw.jpg', CAST(8 AS INT), CAST(40 AS INT), CAST(30 AS INT), CAST(30 AS INT), CAST(40 AS INT)),
      |  ('junk_f.bin',         CAST(0 AS INT), CAST(-1 AS INT), CAST(-1 AS INT), CAST(-1 AS INT), CAST(-1 AS INT)),
      |  ('scan_e_untagged.jpg', CAST(0 AS INT), CAST(64 AS INT), CAST(48 AS INT), CAST(64 AS INT), CAST(48 AS INT))
      |) AS t(file, orientation, raw_w, raw_h, disp_w, disp_h)
      |ORDER BY file""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q88_media_metadata", mediaMetadata, Some(mediaMetadataSql)),
    QueryDef("q154_exif_orientation", exifOrientationAudit,
      Some(exifOrientationAuditSql)),
    QueryDef("q159_frame_sample_plan", frameSamplePlan, Some(frameSamplePlanSql)),
    QueryDef("q204_audio_pcm", audioPcm, Some(audioPcmSql)),
    // the round-trip must reproduce q204's ground truth bit-exactly —
    // the oracle is shared by construction (lossless encode contract)
    QueryDef("q205_audio_roundtrip", audioRoundtrip, Some(audioPcmSql)))
}
