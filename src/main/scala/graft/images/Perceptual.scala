package graft.images

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image dedup: difference hash (dHash) + banded Hamming join.
  *
  * The image-side twin of the text near-dup tier: byte-identical dedup
  * (q26-style) misses re-encoded or slightly-retouched images, and a crawl
  * at 100 TB is full of both. dHash is the standard cheap perceptual
  * fingerprint (9×8 brightness grid, each bit = "is this cell darker than
  * its right neighbor"): re-encodes and small touch-ups preserve the
  * gradient signs, so they land on equal-or-near hashes; Hamming distance
  * between hashes approximates visual distance.
  *
  * Correctness story (the q88 fixture discipline, strengthened): the
  * fixture images are grayscale PNGs whose 4×4 pixel blocks average
  * EXACTLY to a closed-form brightness `blockGray(bx, by, i)` (the ±2
  * within-block texture sums to zero, and PNG is lossless). The DuckDB
  * oracle re-derives every hash FROM THE FORMULA (generate_series over
  * the block grid → comparison bits → hash), while Spark computes it from
  * the actual decoded pixel bytes — two independent derivations meeting
  * at a 64-bit integer, so a broken decoder, a wrong block mean, or a
  * mis-assembled bit position breaks the driver's hash gate.
  *
  * Scale shapes:
  *  - q140 exact families: one binaryFile scan → per-row decode+hash (the
  *    per-row compute ≫ row bytes case where parallelism comes from the
  *    many-files layout) → hash-aggregate on the 8-byte dhash. Only ids
  *    and hashes shuffle, never pixels.
  *  - q141 near-pairs: 8 bands × 8 bits per hash, equi-join on
  *    (band index, band value) — the q53 SimHash shape. By pigeonhole,
  *    Hamming ≤ 7 guarantees at least one of 8 bands is equal, so the
  *    verify threshold (≤ 6) is fully covered by the banding; candidate
  *    volume is bounded by bucket occupancy, never all pairs.
  */
object Perceptual {

  val BlocksX = 9 // 9 columns of block brightness → 8 comparisons per row
  val BlocksY = 8
  val BlockPx = 4 // 4×4 pixels per block → 36×32 fixture images
  val NumImages = 24
  val HammingMax = 6 // ≤ 6 bit flips = near-dup; 8-band pigeonhole covers ≤ 7

  // ------------------------------------------------------------ the formula

  /** Closed-form block brightness, shared between the PNG writer and the
    * DuckDB oracle. ids 0..15: sixteen distinct patterns (hash-mixed so
    * block values are well spread; all 16 dhashes distinct, pairwise
    * Hamming ≥ 20). ids 16..19: the BYTE twins — same blocks as ids 0..3,
    * different within-block texture → same dhash from different bytes.
    * ids 20..23: the RETOUCHED cohort — ids 0..3 with two blocks forced
    * to the opposite brightness extreme → dhash Hamming 3 from the base. */
  def blockGray(bx: Int, by: Int, i: Int): Int = {
    val j =
      if (i >= 28) i - 22 // probe byte twins of bases 6, 7
      else if (i >= 26) i - 10 // novel probe patterns (j = 16, 17)
      else if (i >= 20) i - 20 // retouched (24, 25 are the probe retouches)
      else if (i >= 16) i - 16 // corpus byte twins
      else i
    val base = (8 + (((j.toLong * 2654435761L + bx.toLong * 40503L +
      by.toLong * 104729L + bx.toLong * by.toLong * (j + 1)) % 211) % 15) * 16).toInt
    if (i >= 20 && i <= 25 && ((bx == 2 && by == 3) || (bx == 6 && by == 5)))
      (if (base < 120) 232 else 8)
    else base
  }

  /** The same formula as one SQL expression over columns `bx`, `by`, `j`
    * (the base pattern id) — kept textually adjacent to [[blockGray]] so
    * they cannot drift apart. */
  private val blockGraySql =
    "8 + (((j * 2654435761 + bx * 40503 + by * 104729 + bx * by * (j + 1)) % 211) % 15) * 16"

  /** Within-block ±2 texture, zero-sum per 4×4 block so block means stay
    * exactly on the formula. The byte-twin cohort uses the negation. */
  private val Texture: Array[Array[Int]] = Array(
    Array(2, -2, 1, -1), Array(-1, 1, -2, 2),
    Array(1, -1, 2, -2), Array(-2, 2, -1, 1))

  // -------------------------------------------------------- fixture corpus

  /** Grayscale PNG bytes for fixture image `i` (lossless, TYPE_BYTE_GRAY:
    * decoded samples are exactly the written values). */
  def imageBytes(i: Int): Array[Byte] = {
    val w = BlocksX * BlockPx
    val h = BlocksY * BlockPx
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val sign = if ((i >= 16 && i <= 19) || i >= 28) -1 else 1
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = blockGray(x / BlockPx, y / BlockPx, i) +
          sign * Texture(y % BlockPx)(x % BlockPx)
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** The 24-image fixture folder, landed once per (application, dir). */
  def dhashFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "dhash_fixtures", dir)(
      (0 until NumImages).map(i => f"img$i%02d.png" -> imageBytes(i)))

  // ----------------------------------------------------------------- dHash

  /** 64-bit dHash from image bytes: decode, integer luma, exact block
    * means (floor of sum/blockPixels), bit (bx,by) set iff
    * block < right-neighbor block. Images whose dims don't divide into
    * the 9×8 grid (or that fail decode) return null — the quarantine
    * contract, same as the decode tier. No resampling happens here:
    * at this engine's scale boundary the resize-to-grid step belongs to
    * the ingest decode (it needs an interpolation choice that a
    * cross-engine oracle cannot pin), so the hash is defined on
    * grid-divisible inputs. */
  def dhashOf(bytes: Array[Byte]): Option[Long] =
    grayBlocksOf(bytes).map { gray =>
      var hash = 0L
      var by = 0
      while (by < BlocksY) {
        var bx = 0
        while (bx < BlocksX - 1) {
          if (gray(bx)(by) < gray(bx + 1)(by)) hash |= 1L << (by * 8 + bx)
          bx += 1
        }
        by += 1
      }
      hash
    }

  /** Exact 9×8 block-mean gray grid of an image, or None when the image
    * fails decode or its dims don't divide into the grid (the quarantine
    * contract). Shared front-end of dHash and pHash. */
  private def grayBlocksOf(bytes: Array[Byte]): Option[Array[Array[Int]]] = {
    if (bytes == null) return None
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.flatMap { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      if (w % BlocksX != 0 || h % BlocksY != 0) None
      else {
        val bw = w / BlocksX
        val bh = h / BlocksY
        val gray = Array.ofDim[Int](BlocksX, BlocksY)
        val oneBand = im.getRaster.getNumBands == 1
        var bx = 0
        while (bx < BlocksX) {
          var by = 0
          while (by < BlocksY) {
            var sum = 0L
            var y = by * bh
            while (y < (by + 1) * bh) {
              var x = bx * bw
              while (x < (bx + 1) * bw) {
                val v =
                  if (oneBand) im.getRaster.getSample(x, y, 0)
                  else {
                    val rgb = im.getRGB(x, y)
                    (77 * ((rgb >> 16) & 255) + 150 * ((rgb >> 8) & 255) +
                      29 * (rgb & 255)) >> 8
                  }
                sum += v
                x += 1
              }
              y += 1
            }
            gray(bx)(by) = (sum / (bw.toLong * bh)).toInt
            by += 1
          }
          bx += 1
        }
        Some(gray)
      }
    }
  }

  // ----------------------------------------------------------------- pHash

  /** Scaled integer DCT-II basis: `round(cos(π·(2x+1)·k / (2n)) · 2^20)`,
    * generated with StrictMath (bit-reproducible across JVMs) and BAKED
    * into both the Scala kernel and the SQL oracle as the same literal
    * table — the cross-engine contract is integer from here on. */
  val DctScale = 1L << 20
  private def dctTable(n: Int, ks: Int): Array[Array[Long]] =
    Array.tabulate(ks, n) { (k, x) =>
      Math.round(StrictMath.cos(StrictMath.PI * (2 * x + 1) * k / (2.0 * n)) *
        DctScale)
    }
  /** 9-point (x) and 8-point (y) bases, 8 frequencies each. */
  private[images] val DctCx: Array[Array[Long]] = dctTable(BlocksX, 8)
  private[images] val DctCy: Array[Array[Long]] = dctTable(BlocksY, 8)

  /** 63-bit pHash: exact block means → integer DCT-II over the 9×8 grid →
    * top-left 8×8 coefficients → each AC bit set iff its coefficient
    * exceeds the MEDIAN AC coefficient (the standard pHash cut; the DC
    * term — overall brightness — is excluded, which is exactly what makes
    * pHash robust to global brightness shifts where dHash's row gradients
    * already are). All arithmetic int64-exact: |P(u,v)| ≤ 72·255·2^40 <
    * 2^63, and the median of 63 exact integers is an exact integer. */
  def phashOf(bytes: Array[Byte]): Option[Long] =
    grayBlocksOf(bytes).map(phashOfGrid)

  private[images] def phashOfGrid(gray: Array[Array[Int]]): Long = {
    val p = Array.ofDim[Long](8, 8)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var bx = 0
        while (bx < BlocksX) {
          var by = 0
          while (by < BlocksY) {
            s += gray(bx)(by) * DctCx(u)(bx) * DctCy(v)(by)
            by += 1
          }
          bx += 1
        }
        p(u)(v) = s
        v += 1
      }
      u += 1
    }
    val acs = (for { u <- 0 until 8; v <- 0 until 8; if u != 0 || v != 0 }
      yield p(u)(v)).sorted
    val med = acs(31) // 32nd smallest of the 63 AC terms
    var hash = 0L
    for { u <- 0 until 8; v <- 0 until 8; if u != 0 || v != 0 }
      if (p(u)(v) > med) hash |= 1L << (v * 8 + u)
    hash
  }

  private val dhashUdf = udf { (bytes: Array[Byte]) => dhashOf(bytes) }

  /** img_id + dhash from one binaryFile scan of the fixture folder. */
  private def hashes(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dhashFolder(spark, dir))
      .select(regexp_extract(col("path"), "img(\\d+)\\.png$", 1)
        .cast("long").as("img_id"),
        dhashUdf(col("content")).as("dhash"))

  // ------------------------------------------------- q140 exact dup families

  /** q140: perceptual EXACT-dup families — images grouped by identical
    * dHash. The byte twins (different pixels, same block means) land in
    * their base's family: the case content-hash dedup cannot see. One
    * decode pass, one hash-aggregate on the 8-byte key. */
  def imageDhash(spark: SparkSession, dir: String): DataFrame = {
    val hs = hashes(spark, dir)
    val fams = hs.groupBy(col("dhash"))
      .agg(min(col("img_id")).as("family_id"),
        count(lit(1)).cast("long").as("family_size"))
    hs.join(fams, Seq("dhash"))
      .select(col("img_id"), col("dhash"), col("family_id"), col("family_size"))
      .orderBy(col("img_id"))
  }

  /** Formula-derived block values — the shared oracle front-end of both
    * perceptual hashes. */
  private val bvalCte: String =
    s"""ids AS (SELECT i FROM generate_series(0, ${NumImages - 1}) t(i)),
       |grid AS (
       |  SELECT i,
       |    CASE WHEN i >= 20 THEN i - 20 WHEN i >= 16 THEN i - 16 ELSE i END AS j,
       |    gx.bx, gy.by
       |  FROM ids, generate_series(0, ${BlocksX - 1}) gx(bx),
       |       generate_series(0, ${BlocksY - 1}) gy(by)
       |), bval AS (
       |  SELECT i, bx, by,
       |    CASE WHEN i >= 20 AND ((bx = 2 AND by = 3) OR (bx = 6 AND by = 5))
       |         THEN (CASE WHEN ($blockGraySql) < 120 THEN 232 ELSE 8 END)
       |         ELSE ($blockGraySql) END AS b
       |  FROM grid
       |)""".stripMargin

  /** Shared oracle front-end: hashes derived from the formula alone. */
  private val hashesCte: String =
    s"""$bvalCte, bits AS (
       |  SELECT l.i,
       |    CASE WHEN l.b < r.b THEN
       |      (CASE WHEN l.by * 8 + l.bx = 63 THEN -9223372036854775807 - 1
       |            ELSE CAST(1 AS BIGINT) << (l.by * 8 + l.bx) END)
       |    ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM bval l JOIN bval r ON r.i = l.i AND r.by = l.by AND r.bx = l.bx + 1
       |  WHERE l.bx < ${BlocksX - 1}
       |), hashes AS MATERIALIZED (
       |  SELECT CAST(i AS BIGINT) AS img_id, CAST(SUM(bit) AS BIGINT) AS dhash
       |  FROM bits GROUP BY 1
       |)""".stripMargin

  val imageDhashSql: String =
    s"""WITH $hashesCte,
       |fams AS (
       |  SELECT dhash, MIN(img_id) AS family_id, CAST(COUNT(*) AS BIGINT) AS family_size
       |  FROM hashes GROUP BY 1
       |)
       |SELECT h.img_id, h.dhash, f.family_id, f.family_size
       |FROM hashes h JOIN fams f USING (dhash) ORDER BY h.img_id""".stripMargin

  // ------------------------------------------------- q198 pHash families

  private val phashUdf = udf { (bytes: Array[Byte]) => phashOf(bytes) }

  /** q198: DCT perceptual hash (pHash) families — the industry's OTHER
    * standard perceptual fingerprint beside dHash (q140): dHash reads
    * local row gradients, pHash reads the GLOBAL low-frequency spectrum,
    * so a retouch that flips a couple of local gradients (the q140
    * retouched cohort trips ~3 dHash bits) barely moves the low
    * frequencies, while a global re-texture that preserves block means
    * fools neither. Families group identical pHashes exactly like q140,
    * so the two queries side by side show WHICH perceptual notion each
    * duplicate family satisfies.
    *
    * Correctness story: same two independent derivations as q140 — Spark
    * decodes the fixture PNGs and runs the integer DCT kernel on the
    * exact block means; the DuckDB oracle re-derives the hash FROM THE
    * GENERATION FORMULA (block values → the SAME literal scaled-cosine
    * tables → median cut → bits). Integer end-to-end: coefficients are
    * exact int64 (≤ 72·255·2^40), the median of 63 exact integers is
    * exact, so the 64-bit hashes meet bit-for-bit under the hash gate.
    *
    * Scale shape: identical to q140 — decode parallelism from the
    * many-files layout, only (id, hash) shuffles, one hash-aggregate. */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    val hs = spark.read.format("binaryFile").load(dhashFolder(spark, dir))
      .select(regexp_extract(col("path"), "img(\\d+)\\.png$", 1)
        .cast("long").as("img_id"),
        phashUdf(col("content")).as("phash"))
    val fams = hs.groupBy(col("phash"))
      .agg(min(col("img_id")).as("family_id"),
        count(lit(1)).cast("long").as("family_size"))
    hs.join(fams, Seq("phash"))
      .select(col("img_id"), col("phash"), col("family_id"), col("family_size"))
      .orderBy(col("img_id"))
  }

  val imagePhashSql: String = {
    val cxRows = (for { u <- 0 until 8; x <- 0 until BlocksX }
      yield s"($u, $x, ${DctCx(u)(x)})").mkString(", ")
    val cyRows = (for { v <- 0 until 8; y <- 0 until BlocksY }
      yield s"($v, $y, ${DctCy(v)(y)})").mkString(", ")
    s"""WITH $bvalCte,
       |cx(u, x, c) AS (VALUES $cxRows),
       |cy(v, y, c) AS (VALUES $cyRows),
       |pc AS MATERIALIZED (
       |  SELECT bval.i, cx.u, cy.v,
       |    CAST(SUM(CAST(bval.b AS BIGINT) * cx.c * cy.c) AS BIGINT) AS p
       |  FROM bval JOIN cx ON cx.x = bval.bx JOIN cy ON cy.y = bval.by
       |  GROUP BY 1, 2, 3
       |), med AS (
       |  SELECT i, p AS m FROM (
       |    SELECT i, p, ROW_NUMBER() OVER (PARTITION BY i ORDER BY p) AS rn
       |    FROM pc WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32
       |), phashes AS MATERIALIZED (
       |  SELECT CAST(pc.i AS BIGINT) AS img_id,
       |    CAST(SUM(CASE WHEN pc.p > med.m THEN
       |      (CASE WHEN pc.v * 8 + pc.u = 63 THEN -9223372036854775807 - 1
       |            ELSE CAST(1 AS BIGINT) << (pc.v * 8 + pc.u) END)
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM pc JOIN med USING (i) WHERE NOT (pc.u = 0 AND pc.v = 0)
       |  GROUP BY 1
       |), fams AS (
       |  SELECT phash, MIN(img_id) AS family_id,
       |    CAST(COUNT(*) AS BIGINT) AS family_size
       |  FROM phashes GROUP BY 1
       |)
       |SELECT h.img_id, h.phash, f.family_id, f.family_size
       |FROM phashes h JOIN fams f USING (phash) ORDER BY h.img_id""".stripMargin
  }

  // ------------------------------------------------- q141 banded near pairs

  /** q141: perceptual NEAR-dup pairs — Hamming distance ≤ 6 between
    * dHashes, found via the banded equi-join (8 bands of 8 bits; a pair
    * within the threshold shares ≥ 1 band by pigeonhole, so recall is
    * exact, not probabilistic). Candidates dedup on the pair key, then
    * one codegen `bit_count(xor)` verifies. The retouched cohort
    * (Hamming 3 from its base) and the byte twins (Hamming 0) must both
    * surface; the 16 base patterns (pairwise Hamming ≥ 20) must not. */
  def dhashNearPairs(spark: SparkSession, dir: String): DataFrame = {
    val bands = hashes(spark, dir)
      .select(col("img_id"), col("dhash"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("bval", expr("shiftright(dhash, band * 8) & 255"))
    val a = bands.select(col("band"), col("bval"),
      col("img_id").as("img_a"), col("dhash").as("ha"))
    val b = bands.select(col("band"), col("bval"),
      col("img_id").as("img_b"), col("dhash").as("hb"))
    a.join(b, Seq("band", "bval"))
      .filter(col("img_a") < col("img_b"))
      .select(col("img_a"), col("img_b"), col("ha"), col("hb")).distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select(col("img_a"), col("img_b"), col("hamming"))
      .orderBy(col("img_a"), col("img_b"))
  }

  val dhashNearPairsSql: String =
    s"""WITH $hashesCte,
       |bands AS (
       |  SELECT img_id, dhash, g.band, (dhash >> (g.band * 8)) & 255 AS bval
       |  FROM hashes, generate_series(0, 7) g(band)
       |), cand AS (
       |  SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b,
       |    a.dhash AS ha, b.dhash AS hb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bval = b.bval AND a.img_id < b.img_id
       |)
       |SELECT img_a, img_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= $HammingMax
       |ORDER BY img_a, img_b""".stripMargin

  // --------------------------------------------- q152 incremental ingest

  /** Probe cohort ids (a second, later-arriving batch): 24/25 retouches
    * of bases 4/5 (expected near-dup, Hamming 3), 26/27 novel patterns,
    * 28/29 byte twins of bases 6/7 (expected exact dup). */
  val ProbeIds: Range = 24 until 30

  /** The probe batch folder, landed once per (application, dir). */
  def probeFolder(spark: SparkSession, dir: String): String =
    graft.io.Layout.landFiles(spark, "dhash_probe", dir)(
      ProbeIds.map(i => f"img$i%02d.png" -> imageBytes(i)))

  /** q152: incremental perceptual ingest — a later-arriving image batch
    * probed against the LANDED corpus, never corpus-vs-corpus (the q68
    * asymmetry, played for images): per probe, verdict `exact_dup`
    * (Hamming 0 to some corpus image), `near_dup` (≤ 6), or `novel`,
    * with the matched corpus family and distance. Candidates come from
    * the 8-band equi-join of PROBE band keys against corpus band keys —
    * corpus-side work is proportional to the batch, and the pigeonhole
    * makes the ≤ 6 verdict exact (a qualifying pair always shares a
    * band; banded candidates beyond the threshold are dropped, so the
    * brute-force oracle agrees row-for-row). Deterministic match choice:
    * min (hamming, family gid). */
  def dhashIngest(spark: SparkSession, dir: String): DataFrame = {
    val corpus = hashes(spark, dir)
      .withColumnRenamed("img_id", "gid").withColumnRenamed("dhash", "ch")
    val probes = spark.read.format("binaryFile").load(probeFolder(spark, dir))
      .select(regexp_extract(col("path"), "img(\\d+)\\.png$", 1)
        .cast("long").as("img_id"),
        dhashUdf(col("content")).as("dhash"))
    def bandsOf(df: DataFrame, id: String, h: String): DataFrame =
      df.select(col(id), col(h), explode(sequence(lit(0), lit(7))).as("band"))
        .withColumn("bval", expr(s"shiftright($h, band * 8) & 255"))
    val cand = bandsOf(probes, "img_id", "dhash")
      .join(bandsOf(corpus, "gid", "ch"), Seq("band", "bval"))
      .select(col("img_id"), col("dhash"), col("gid"), col("ch")).distinct()
      .withColumn("hamming", expr("bit_count(dhash ^ ch)").cast("long"))
      .filter(col("hamming") <= HammingMax)
    val best = cand
      .groupBy(col("img_id"))
      .agg(min(struct(col("hamming"), col("gid"))).as("m"))
      .select(col("img_id"), col("m.gid").as("matched"), col("m.hamming").as("hamming"))
    probes.join(best, Seq("img_id"), "left")
      .select(col("img_id"), col("dhash"),
        coalesce(col("matched"), lit(-1L)).as("matched_img"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"),
        when(col("hamming") === 0, "exact_dup")
          .when(col("hamming").isNotNull, "near_dup")
          .otherwise("novel").as("verdict"))
      .orderBy(col("img_id"))
  }

  /** Probe-side formula CTE: same block math, probe id mapping inline. */
  val dhashIngestSql: String =
    s"""WITH $hashesCte,
       |pids AS (SELECT i FROM generate_series(24, 29) t(i)),
       |pgrid AS (
       |  SELECT i,
       |    CASE WHEN i >= 28 THEN i - 22 WHEN i >= 26 THEN i - 10 ELSE i - 20 END AS j,
       |    gx.bx, gy.by
       |  FROM pids, generate_series(0, ${BlocksX - 1}) gx(bx),
       |       generate_series(0, ${BlocksY - 1}) gy(by)
       |), pbval AS (
       |  SELECT i, bx, by,
       |    CASE WHEN i <= 25 AND ((bx = 2 AND by = 3) OR (bx = 6 AND by = 5))
       |         THEN (CASE WHEN ($blockGraySql) < 120 THEN 232 ELSE 8 END)
       |         ELSE ($blockGraySql) END AS b
       |  FROM pgrid
       |), pbits AS (
       |  SELECT l.i,
       |    CASE WHEN l.b < r.b THEN
       |      (CASE WHEN l.by * 8 + l.bx = 63 THEN -9223372036854775807 - 1
       |            ELSE CAST(1 AS BIGINT) << (l.by * 8 + l.bx) END)
       |    ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM pbval l JOIN pbval r ON r.i = l.i AND r.by = l.by AND r.bx = l.bx + 1
       |  WHERE l.bx < ${BlocksX - 1}
       |), phashes AS MATERIALIZED (
       |  SELECT CAST(i AS BIGINT) AS img_id, CAST(SUM(bit) AS BIGINT) AS dhash
       |  FROM pbits GROUP BY 1
       |), cand AS (
       |  SELECT p.img_id, c.img_id AS gid,
       |    CAST(bit_count(xor(p.dhash, c.dhash)) AS BIGINT) AS ham
       |  FROM phashes p JOIN hashes c
       |    ON bit_count(xor(p.dhash, c.dhash)) <= $HammingMax
       |), best AS (
       |  SELECT img_id, gid, ham,
       |    ROW_NUMBER() OVER (PARTITION BY img_id ORDER BY ham, gid) AS rn
       |  FROM cand
       |)
       |SELECT p.img_id, p.dhash,
       |  CAST(COALESCE(b.gid, -1) AS BIGINT) AS matched_img,
       |  CAST(COALESCE(b.ham, -1) AS BIGINT) AS hamming,
       |  CASE WHEN b.ham = 0 THEN 'exact_dup'
       |       WHEN b.ham IS NOT NULL THEN 'near_dup'
       |       ELSE 'novel' END AS verdict
       |FROM phashes p
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (img_id)
       |ORDER BY p.img_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q140_image_dhash", imageDhash, Some(imageDhashSql)),
    QueryDef("q141_dhash_near_pairs", dhashNearPairs, Some(dhashNearPairsSql)),
    QueryDef("q152_dhash_ingest", dhashIngest, Some(dhashIngestSql)),
    QueryDef("q198_image_phash", imagePhash, Some(imagePhashSql)))
}
