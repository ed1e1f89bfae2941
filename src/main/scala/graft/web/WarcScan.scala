package graft.web

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One unit of WARC read work: a contiguous run of gzip members of one
  * file (or the whole file, for uncompressed/non-gzip input —
  * `identity` = true). Slim by design: slice DESCRIPTORS cross the
  * distribution exchange; payload bytes are read only after it, inside
  * the task that owns the slice. */
final case class WarcSliceRow(path: String, slice_seq: Int, offset: Long,
                              clen: Long, ilen: Long, identity: Boolean)

/** Splittable WARC reader — the cluster-scale read path for `.warc.gz`
  * crawl containers (Common Crawl ships ~1 GiB files; a whole-file
  * reader caps parallelism at #files and materializes entire files as
  * single binary cells, breaking outright past 2 GiB).
  *
  * Two-stage shape:
  *  1. INDEX: one streaming pass per file ([[Warc.memberIndex]], O(1)
  *     memory) enumerates gzip member boundaries, then consecutive
  *     members coalesce into slices whose INFLATED size fits
  *     `sliceBudget` (a single member larger than the budget gets its
  *     own slice — it is indivisible);
  *  2. READ: slice descriptors repartition across the cluster, each
  *     task ranged-reads ONLY its slice's bytes (seek + readFully),
  *     inflates, and parses records.
  *
  * Memory contract: per-task input is bounded by
  * `max(sliceBudget, largest single member)` inflated — the max-MEMBER
  * contract, never max-file. [[Warc.MaxInflatedBytes]] additionally
  * caps any single parse call below the JVM array ceiling (prefix kept,
  * no OOM). At a landing tier the stage-1 index is the natural sidecar
  * table to persist next to the files so steady-state reads skip the
  * indexing pass entirely.
  *
  * Reference behavior anchor: extends the reference's per-item
  * isolation (batch_processor.py decode `continue`) to slices — a
  * corrupt member ends ITS file's index at the last good member; junk
  * files become one identity slice that parses to zero records and
  * quarantines at the caller.
  */
object WarcScan {

  /** Default inflated-bytes budget per slice (64 MiB): small enough
    * that hundreds of tasks fit an executor, large enough that slice
    * descriptor counts stay ~corpusBytes/64Mi. */
  val DefaultSliceBudget: Long = 64L << 20

  // Hadoop Configuration is not serializable; ship its entries once per
  // job via a broadcast and rebuild per executor (cached by broadcast id).
  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[Long, org.apache.hadoop.conf.Configuration]()

  private def confOf(bc: Broadcast[Array[(String, String)]])
      : org.apache.hadoop.conf.Configuration =
    confCache.computeIfAbsent(bc.id, { _ =>
      val c = new org.apache.hadoop.conf.Configuration(false)
      bc.value.foreach { case (k, v) => c.set(k, v) }
      c
    })

  // One conf broadcast per session (graft.SessionMemo discipline): the
  // hadoop conf is session-constant and re-broadcasting it per query
  // call cost ~100 ms each on the bench.
  private val bcMemo =
    new graft.SessionMemo[String, Broadcast[Array[(String, String)]]]

  private def confBroadcast(spark: SparkSession): Broadcast[Array[(String, String)]] =
    bcMemo.getOrCompute(spark.sparkContext.applicationId) { _ =>
      import scala.jdk.CollectionConverters._
      val kv = spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
      spark.sparkContext.broadcast(kv)
    }

  // Slice-index memo: the index of a folder is a pure function of its
  // files and the budget, so the per-file streaming pass runs once per
  // folder state and budget — the "sidecar index at landing" shape, held
  // as a checkpointed frame (stays distributed: at 100 TB the index is
  // ~corpusBytes/64Mi rows, never driver-collected).
  private val idxMemo =
    new graft.SessionMemo[graft.SessionMemos.DirKey, DataFrame]("warc_index")

  /** Index one file: stream member boundaries, coalesce into slices.
    * Non-gzip (or index-empty) input → one identity slice spanning the
    * file. A cut happens only BEFORE a member whose inflated head is
    * "WARC/" (`recStart`): a record split across gzip members — legal,
    * though off the ISO 28500 Annex D record-per-member convention —
    * stays inside one slice instead of silently vanishing at the
    * boundary (the continuation member glues on even past the budget;
    * the indivisible-run contract, same as one oversized member). Pure
    * function of (bytes at path, budget) — safe to re-run. */
  private[web] def slicesOf(index: Seq[Warc.GzMember], fileLen: Long,
                            budget: Long): Seq[(Long, Long, Long, Boolean)] = {
    if (index.isEmpty) return Seq((0L, fileLen, fileLen, true))
    val out = Seq.newBuilder[(Long, Long, Long, Boolean)]
    var start = index.head.offset
    var clen = 0L
    var ilen = 0L
    for (m <- index) {
      if (ilen > 0 && ilen + m.ilen > budget && m.recStart) {
        out += ((start, clen, ilen, false))
        start = m.offset; clen = 0L; ilen = 0L
      }
      clen += m.clen; ilen += m.ilen
    }
    out += ((start, clen, ilen, false))
    out.result()
  }

  /** Slice descriptors for every file under `folder`: one row per
    * slice, (path, slice_seq, offset, clen, ilen, identity). The
    * binaryFile listing reads only path+length (content pruned); the
    * resulting index (tiny: ~corpusBytes/budget rows) memoizes per
    * folder state and budget. */
  def sliceIndex(spark: SparkSession, folder: String,
                 sliceBudget: Long = DefaultSliceBudget): DataFrame = {
    val bc = confBroadcast(spark)
    val indexUdf = udf { (path: String, fileLen: Long) =>
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(confOf(bc))
      val in = fs.open(p)
      val idx = try Warc.memberIndex(in) finally in.close()
      slicesOf(idx, fileLen, sliceBudget).zipWithIndex.map {
        case ((off, cl, il, ident), i) => WarcSliceRow(path, i, off, cl, il, ident)
      }
    }
    idxMemo.getOrLand(spark, folder, sliceBudget) {
      spark.read.format("binaryFile").load(folder)
        .select(col("path"), col("length"))
        .select(explode(indexUdf(col("path"), col("length"))).as("s"))
        .select(col("s.*"))
        .transform(graft.Dist.durableCkpt)
    }
  }

  /** Ranged read + inflate + parse of one slice → records array.
    * A slice larger than the single-allocation ceiling parses to ZERO
    * records — a LOUD quarantine at the caller's listing join, never a
    * silent prefix. The guard is symmetric across both slice kinds: an
    * IDENTITY slice (uncompressed file, no member index to split it)
    * past the ceiling cannot be range-parsed at all; a GZIP slice past
    * it (reachable when recStart gluing grows an indivisible member run
    * beyond the budget) must not be read as a truncated compressed
    * prefix, and an inflate that reports truncation (the per-member
    * inflated ceiling inside [[Warc.gunzipAll]]) quarantines the same
    * way — records past a cut must vanish LOUDLY, not silently. */
  private def parseSliceUdf(bc: Broadcast[Array[(String, String)]]) =
    udf { (path: String, offset: Long, clen: Long, identity: Boolean) =>
      if (clen > Warc.MaxInflatedBytes) Seq.empty[Rec]
      else {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(confOf(bc))
        val bytes = new Array[Byte](clen.toInt)
        val in = fs.open(p)
        try { in.seek(offset); in.readFully(bytes, 0, clen.toInt) } finally in.close()
        val (inflated, truncated) =
          if (identity) (bytes, false) else Warc.gunzipAll(bytes)
        if (truncated) Seq.empty[Rec]
        else Warc.parseRecords(inflated).zipWithIndex.map { case (r, i) =>
          Rec(i, r.warcType, r.targetUri.orNull, r.httpStatus,
            r.httpContentType.orNull, r.httpCharset.orNull, r.payload)
        }
      }
    }

  /** Slice-level parsed frame: one row per slice carrying its records
    * array — (path, slice_seq, recs). The repartition BEFORE the read
    * is the whole point: slice descriptors (slim) shuffle, then each
    * task ranged-reads only its own slices, so within-file parallelism
    * is #slices, not #files, and no payload byte ever crosses an
    * exchange. */
  def parsedSlices(spark: SparkSession, folder: String,
                   sliceBudget: Long = DefaultSliceBudget): DataFrame = {
    val bc = confBroadcast(spark)
    sliceIndex(spark, folder, sliceBudget)
      .repartition(col("path"), col("slice_seq"))
      .select(col("path"), col("slice_seq"),
        parseSliceUdf(bc)(col("path"), col("offset"), col("clen"),
          col("identity")).as("recs"))
  }

  /** Record stream: (file, path, slice_seq, rec_in_slice, r) — the
    * scale-path record identity is the composite (file, slice_seq,
    * rec_in_slice), stable under any task placement. Files parsing to
    * ZERO records do not appear (quarantine joins happen at the
    * caller against the file listing). */
  def records(spark: SparkSession, folder: String,
              sliceBudget: Long = DefaultSliceBudget): DataFrame =
    parsedSlices(spark, folder, sliceBudget)
      .select(fileOf(col("path")).as("file"), col("path"), col("slice_seq"),
        posexplode(col("recs")).as(Seq("rec_in_slice", "r")))

  private def fileOf(path: Column): Column =
    element_at(split(path, "/"), -1)

  /** Records with the per-file 0-based global ordinal `rec` restored —
    * the fixture-gate shape (q206's oracle numbers records per file).
    * Costs one slim window over per-slice counts: the parsed frame is
    * lazily checkpointed so counts + explode read ONE materialization,
    * the window runs on (file, slice_seq, n_recs) rows only, and the
    * offsets frame broadcasts back. At crawl scale prefer [[records]]'
    * composite identity — a global ordinal is a fixture-oracle need,
    * not a pipeline one. */
  def recordsNumbered(spark: SparkSession, folder: String,
                      sliceBudget: Long = DefaultSliceBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parsed = parsedSlices(spark, folder, sliceBudget).localCheckpoint(false)
    val bases = parsed
      .select(col("path"), col("slice_seq"), size(col("recs")).as("n_recs"))
      .withColumn("base",
        coalesce(sum(col("n_recs")).over(Window.partitionBy(col("path"))
          .orderBy(col("slice_seq")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("path"), col("slice_seq"), col("base"))
    parsed
      .select(col("path"), col("slice_seq"),
        posexplode(col("recs")).as(Seq("rec_in_slice", "r")))
      .join(broadcast(bases), Seq("path", "slice_seq"))
      .select(fileOf(col("path")).as("file"),
        (col("base") + col("rec_in_slice")).cast("int").as("rec"), col("r"))
  }

  /** Distinct file names under `folder` (slim; quarantine left-joins
    * against this). Derived from the memoized slice index — every file
    * has at least one slice (identity fallback), so no second FS
    * listing is paid. */
  def fileListing(spark: SparkSession, folder: String): DataFrame =
    sliceIndex(spark, folder)
      .select(fileOf(col("path")).as("file")).distinct()

  // --------------------------------------- sidecar index at landing

  /** Persist the slice index as a parquet sidecar next to the landed
    * crawl — the durable form of the session memo: steady-state readers
    * skip the indexing pass entirely (one streaming decompression of
    * the corpus, paid once at landing instead of once per session).
    * Landing is idempotent (overwrite). */
  def landIndex(spark: SparkSession, folder: String, indexPath: String,
                sliceBudget: Long = DefaultSliceBudget): Unit =
    sliceIndex(spark, folder, sliceBudget)
      .write.mode("overwrite").parquet(indexPath)

  /** The splittable record stream driven by a LANDED sidecar index
    * instead of a fresh indexing pass — the 100 TB steady-state read
    * path: one parquet scan of slice descriptors, the distribution
    * exchange, then ranged reads. Same output contract as [[records]]. */
  def recordsFromIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val bc = confBroadcast(spark)
    spark.read.parquet(indexPath)
      .repartition(col("path"), col("slice_seq"))
      .select(col("path"), col("slice_seq"),
        parseSliceUdf(bc)(col("path"), col("offset"), col("clen"),
          col("identity")).as("recs"))
      .select(fileOf(col("path")).as("file"), col("path"), col("slice_seq"),
        posexplode(col("recs")).as(Seq("rec_in_slice", "r")))
  }
}
