package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class DistSpec extends SparkSpec {

  test("fanOut widens single-partition frames and leaves wide frames alone") {
    val single = Tables.documents(spark, sfDir) // one row group -> one split
    assert(single.rdd.getNumPartitions == 1, "harness parquet should plan 1 split")
    val fanned = Dist.fanOut(single)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // values survive the round-robin exchange
    assert(fanned.count() == single.count())
    // already-parallel frames are untouched (no gratuitous exchange)
    val wide = single.repartition(7)
    assert(Dist.fanOut(wide).queryExecution.logical eq wide.queryExecution.logical)
  }

  test("globalRowNumber matches the single-partition window row_number") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
      .repartition(7) // scramble the layout first
    val got = Dist.globalRowNumber(docs, col("doc_id"), numParts = 5)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ref = Tables.documents(spark, sfDir).select(col("doc_id"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))).cast("long"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ref)
  }

  test("globalCumSum matches the single-partition window cumsum; window stays partitioned") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      .repartition(7) // scramble the layout first
    val q = Dist.globalCumSum(docs, col("doc_id"), col("w"), numParts = 5)
    val got = q.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val ref = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      .withColumn("cum", sum(col("w")).over(Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == ref)
    // the data-bearing windows must all be partitioned (only the
    // numParts-row offsets window may be global)
    val wins = allPlanNodes(executedPlanOf(q)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    val globalWins = wins.filter(_.partitionSpec.isEmpty)
    assert(wins.nonEmpty && globalWins.size <= 1,
      "per-row cumsum must never run in a single-partition window")
  }

  test("globalCumSum/globalRowNumber are deterministic across reruns and partition counts") {
    // regression lock for the range-exchange re-sampling bug: the data
    // and offsets branches share one checkpointed partitioning, so the
    // result must be identical run-to-run and for ANY numParts — before
    // the fix, a non-reused exchange re-sampled partitioner boundaries
    // and corrupted the offsets (overlapping q115 buckets at sf0.01)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), (pmod(xxhash64(col("text")), lit(997)) + 1).as("w"))
      .repartition(13)
    def runCum(parts: Int): Seq[(Long, Long)] =
      Dist.globalCumSum(docs, col("doc_id"), col("w"), numParts = parts)
        .select(col("doc_id"), col("cum"))
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ref = runCum(5)
    assert(runCum(5) == ref, "rerun must be identical")
    assert(runCum(3) == ref && runCum(17) == ref,
      "cum must not depend on the partition count")
    // monotone by construction — any offsets corruption breaks this
    assert(ref.map(_._2) == ref.map(_._2).sorted)
    val rn = Dist.globalRowNumber(docs, col("doc_id"), numParts = 7)
      .select(col("doc_id"), col("rn")).orderBy(col("doc_id"))
      .collect().map(_.getLong(1)).toSeq
    assert(rn == (1L to ref.size).toSeq, "row numbers must be dense 1..N")
  }

  test("globalRowNumberWithin is deterministic across reruns and partition counts") {
    // same regression class as globalRowNumber: both branches must read
    // ONE checkpointed range partitioning, or re-sampled boundaries make
    // the boundary-spill offsets disagree with the local numbering
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(5)).cast("string").as("g"))
      .repartition(13)
    def run(parts: Int): Seq[(Long, Long)] =
      Dist.globalRowNumberWithin(docs, "g", col("doc_id"), numParts = parts)
        .select(col("doc_id"), col("rn"))
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ref = run(5)
    assert(run(5) == ref, "rerun must be identical")
    assert(run(3) == ref && run(17) == ref,
      "rn must not depend on the partition count")
    assert(run(0) == ref,
      "the data-derived default (numParts <= 0) must agree too")
  }

  test("globalRowNumberWithin derives numParts from the data by default") {
    // r11 verdict task 7: a fixed 32 under-parallelizes a bigger box and
    // over-partitions nothing the helper can see. The auto path must use
    // max(defaultParallelism, child partitions) — assert via the
    // boundary-spill bound at a parallelism ABOVE the old constant: with
    // a 48-partition child the materialized range partitioning must plan
    // >= 48 partitions (old code would cap at 32), and the hot key must
    // still be numbered exactly.
    import spark.implicits._
    val rows = (0 until 4000).map { i =>
      (if (i % 2 == 0) "hot.example" else s"cold${i % 31}.example", i.toLong)
    }.toDF("domain", "keeper").repartition(48)
    // the derivation itself (the downstream window re-shuffles to
    // spark.sql.shuffle.partitions, so output partition counts can't
    // witness the choice — assert on the resolver the helper uses)
    assert(Dist.autoParts(rows, 0) ==
      math.max(spark.sparkContext.defaultParallelism, 48))
    assert(Dist.autoParts(rows, 7) == 7, "explicit count must win")
    val out = Dist.globalRowNumberWithin(rows, "domain", col("keeper"))
    val hot = out.filter(col("domain") === "hot.example")
      .agg(count(lit(1)), max(col("rn")), sum(col("rn"))).collect()(0)
    assert(hot.getLong(0) == 2000 && hot.getLong(1) == 2000 &&
      hot.getLong(2) == 2000L * 2001 / 2, "exact numbering at auto parallelism")
  }

  test("globalRowNumberWithin matches the per-partition window row_number") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(7)).cast("string").as("g"))
      .repartition(7) // scramble the layout first
    val got = Dist.globalRowNumberWithin(docs, "g", col("doc_id"), numParts = 5)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rn"))).toSeq
    val ref = Tables.documents(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(7)).cast("string").as("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("doc_id"))).cast("long"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rn"))).toSeq
    assert(got == ref)
  }

  test("globalRowNumberWithin bounds the max task under a 50%-hot key") {
    // the q212 hot-domain scenario: one domain owns half the frontier.
    // A plain Window.partitionBy(domain) serializes those rows into ONE
    // task; the range-partitioned form must split them across partitions
    // AND still number them exactly.
    import spark.implicits._
    val n = 10000
    val rows = (0 until n).map { i =>
      (if (i % 2 == 0) "hot.example" else s"cold${i % 97}.example", i.toLong)
    }.toDF("domain", "keeper")
    val numParts = 8
    // exactness under skew
    val got = Dist.globalRowNumberWithin(rows, "domain", col("keeper"), numParts)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n"), max(col("rn")).as("mx"), sum(col("rn")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (d, cnt, mx, s) =>
      assert(mx == cnt, s"$d: rn must be dense 1..n within the domain")
      assert(s == cnt * (cnt + 1) / 2, s"$d: rn must be a permutation of 1..n")
    }
    // skew bound: the hot domain's 5000 rows must NOT land on one task —
    // the range partitioning on (domain, keeper) splits them
    val perPid = rows.repartitionByRange(numParts, col("domain"), col("keeper"))
      .select(spark_partition_id().as("pid"), col("domain"))
      .filter(col("domain") === "hot.example")
      .groupBy(col("pid")).count().collect().map(_.getLong(1))
    assert(perPid.length > 1, "hot domain must span more than one partition")
    assert(perPid.max < n / 2, "no single task may hold the whole hot domain")
  }

  test("saltedJoin equals the plain equi-join") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_linenumber", "l_quantity")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
      .orderBy("l_orderkey", "l_linenumber").collect().toSeq
    val salted = Dist.saltedJoin(li, o, Seq("l_orderkey"),
        xxhash64(col("l_linenumber")), factor = 8)
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
      .orderBy("l_orderkey", "l_linenumber").collect().toSeq
    assert(salted == plain)
  }

  test("saltedJoin bounds the max task input under a hot key") {
    // 50% of the big side on one key: the plain shuffle join puts every
    // hot row in ONE reducer task; the salted join spreads it over
    // `factor` tasks. Assert on actual post-join partition sizes — the
    // skew BOUND, not just result equality. Broadcast and AQE coalescing
    // are disabled for the measurement (a broadcast join would hide the
    // shuffle; coalescing merges the small partitions we count).
    import spark.implicits._
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      // enough reducers that the `factor` salted twins of the hot key
      // rarely collide into one partition (8 keys into 32 bins collide
      // often enough to blur the bound being asserted)
      conf.set("spark.sql.shuffle.partitions", "200")
      val n = 40000
      val factor = 8
      val big = (0 until n)
        .map(i => (if (i % 2 == 0) 0L else (i % 97).toLong, i.toLong))
        .toDF("k", "payload").repartition(8)
      val small = (0L until 97L).map(k => (k, s"dim_$k")).toDF("k", "attr")
      def maxPartRows(df: org.apache.spark.sql.DataFrame): Long =
        df.groupBy(spark_partition_id().as("pid")).count()
          .agg(max("count")).head().getLong(0)
      val plainMax = maxPartRows(big.join(small, Seq("k")))
      val saltedMax = maxPartRows(
        Dist.saltedJoin(big, small, Seq("k"), xxhash64(col("payload")), factor))
      // hot key = n/2 rows; plain >= that in one task; salted ~ (n/2)/factor
      assert(plainMax >= n / 2L, s"test premise broken: plain max $plainMax")
      assert(saltedMax <= plainMax / (factor / 2L),
        s"salting did not bound the hot task: salted $saltedMax vs plain $plainMax")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("auditedSaltedJoin picks the audit's salt and levels the hot task") {
    // The measure->act loop: a 50%-hot-key big side must yield
    // rec_salt = ceil(max_cnt/avg_cnt) and an auditedSaltedJoin whose max
    // task input is leveled to roughly one average key's volume — while
    // a uniform big side must recommend 1 and degenerate to the plain
    // join (no small-side replication paid for nothing).
    import spark.implicits._
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "200")
      val n = 40000
      val big = (0 until n)
        .map(i => (if (i % 2 == 0) 0L else (i % 97).toLong, i.toLong))
        .toDF("k", "payload").repartition(8)
      val small = (0L until 97L).map(k => (k, s"dim_$k")).toDF("k", "attr")
      // max_cnt = 20000, n_keys = 97, total = 40000 -> ceil(48.5) = 49
      assert(Dist.recommendedSalt(big, Seq("k")) == 49)
      // exactly 400 rows per key: max = avg, so the ceiling division
      // lands on 1 (a LEVEL-with-remainder distribution would ceil to 2
      // — the formula is deliberately conservative about any excess)
      val uniform = (0 until n).map(i => ((i % 100).toLong, i.toLong))
        .toDF("k", "payload")
      assert(Dist.recommendedSalt(uniform, Seq("k")) == 1)
      def maxPartRows(df: org.apache.spark.sql.DataFrame): Long =
        df.groupBy(spark_partition_id().as("pid")).count()
          .agg(max("count")).head().getLong(0)
      val plain = big.join(small, Seq("k"))
      val audited = Dist.auditedSaltedJoin(big, small, Seq("k"),
        xxhash64(col("payload")))
      assert(audited.select("k", "payload", "attr")
          .orderBy("payload").collect().toSeq ==
        plain.select("k", "payload", "attr")
          .orderBy("payload").collect().toSeq)
      val plainMax = maxPartRows(plain)
      val auditedMax = maxPartRows(audited)
      assert(plainMax >= n / 2L, s"test premise broken: plain max $plainMax")
      // hot key levels to ~(n/2)/49 ~ 408 rows/task; allow collisions of
      // a few splits/cold keys per partition with a 10x-under-plain bound
      assert(auditedMax <= plainMax / 10L,
        s"audited salt did not level the hot task: $auditedMax vs $plainMax")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("globalRowNumber is dense 1..N") {
    val n = 123
    import spark.implicits._
    val df = (1 to n).map(i => i * 10L).toDF("k").repartition(4)
    val rns = Dist.globalRowNumber(df, col("k"), numParts = 4)
      .select("rn").collect().map(_.getLong(0)).sorted.toSeq
    assert(rns == (1L to n.toLong))
  }

  private def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.nonEmpty

  private def leafRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  test("sizedBroadcast hints only measured-small frames and registers the approval") {
    val small = spark.range(100).toDF("id").transform(Dist.durableCkpt)
    val out = Dist.sizedBroadcast(small)
    assert(hinted(out), "a measured-tiny checkpointed frame must be hinted")
    val ids = leafRddIds(small)
    val approvedNow = Dist.approvedRdds(spark.sparkContext)
    assert(ids.nonEmpty && ids.forall(approvedNow),
      "the hint's witness: approved ids must cover the hinted frame's leaves")
    // over the row bound: no hint, no approval — the shuffle-join path
    val big = spark.range(200000).toDF("id").transform(Dist.durableCkpt)
    val out2 = Dist.sizedBroadcast(big, maxRows = 1000)
    assert(!hinted(out2), "an over-bound frame must come back unhinted")
    val approvedAfter = Dist.approvedRdds(spark.sparkContext)
    assert(leafRddIds(big).forall(id => !approvedAfter(id)),
      "an over-bound frame must never be vouched for")
  }

  test("sizedBroadcast measures RELIABLE checkpoints from their files (no byte-blind fallback)") {
    val sc = spark.sparkContext
    val saved = org.apache.spark.CheckpointDirTestAccess.get(sc)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-")
    sc.setCheckpointDir(dir.toString)
    try {
      val df = spark.range(5000)
        .selectExpr("id", "repeat('x', 64) AS pad")
        .transform(Dist.durableCkpt)
      // 5,000 rows sit far under the 65,536 rows-only fallback: if the
      // byte witness vanished under a reliable checkpoint dir (the r12
      // ADVICE gap — getRDDStorageInfo is empty for FS-checkpointed
      // frames), this WOULD broadcast despite the 1-byte bound.
      val out = Dist.sizedBroadcast(df, maxBytes = 1L)
      assert(!hinted(out),
        "reliable-checkpoint bytes must be measured from the checkpoint files")
      // same memoized measurement, sane bound: fits and hints
      val ok = Dist.sizedBroadcast(df)
      assert(hinted(ok))
    } finally {
      org.apache.spark.CheckpointDirTestAccess.set(sc, saved)
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(sc.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.toString), true)
    }
  }

  test("globalCumSum2 matches two chained globalCumSums and one range partitioning") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("w1"),
        (col("doc_id") % 7).cast("long").as("w2"))
      .repartition(7)
    val fused = Dist.globalCumSum2(docs, col("doc_id"), col("w1"), col("w2"),
        numParts = 5)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cum1"), r.getAs[Long]("cum2"))).toSeq
    val chained = {
      val a = Dist.globalCumSum(docs, col("doc_id"), col("w1"), numParts = 5)
        .withColumnRenamed("cum", "cum1")
      Dist.globalCumSum(a, col("doc_id"), col("w2"), numParts = 5)
        .withColumnRenamed("cum", "cum2")
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("cum1"), r.getAs[Long]("cum2"))).toSeq
    }
    assert(fused == chained)
    // one fused pass must plan at most one range exchange (the chained
    // form pays two) and no single-partition data window
    val q = Dist.globalCumSum2(docs, col("doc_id"), col("w1"), col("w2"), numParts = 5)
    val ranges = allPlanNodes(executedPlanOf(q)).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e }
    assert(ranges.size <= 1, s"fused cumsum must not pay a second range exchange")
  }

  private def digestFrame = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"g${i % 3}", i % 5)).toDF("k", "g", "w").repartition(3)
  }

  test("each helper keeps its output columns, types and nullability") {
    val df = digestFrame
    def shape(out: org.apache.spark.sql.DataFrame): Seq[(String, String, Boolean)] =
      out.schema.map(f => (f.name, f.dataType.simpleString, f.nullable))
    val in = Seq(("k", "bigint", false), ("g", "string", true), ("w", "int", false))
    assert(shape(Dist.globalRowNumber(df, col("k"), numParts = 4)) ==
      in :+ (("rn", "bigint", false)))
    // the partition column leads, as the using-join on it places it
    assert(shape(Dist.globalRowNumberWithin(df, "g", col("k"), numParts = 4)) ==
      Seq(in(1), in(0), in(2), ("rn", "bigint", false)))
    assert(shape(Dist.globalCumSum(df, col("k"), col("w"), numParts = 4)) ==
      in :+ (("cum", "bigint", true)))
    assert(shape(Dist.globalCumSum2(df, col("k"), col("w"), col("k"), numParts = 4)) ==
      in ++ Seq(("cum1", "bigint", true), ("cum2", "bigint", true)))
  }

  test("digest mode records one tagged line per helper call, covering every input row") {
    val df = digestFrame
    val prev = sys.props.get("graft.dist.digest")
    Dist.drainDigests()
    sys.props("graft.dist.digest") = "true"
    try {
      val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "rowNumber" -> (() => Dist.globalRowNumber(df, col("k"), numParts = 4)),
        "rowNumberWithin" -> (() => Dist.globalRowNumberWithin(df, "g", col("k"), numParts = 4)),
        "cumSum" -> (() => Dist.globalCumSum(df, col("k"), col("w"), numParts = 4)),
        "cumSum2" -> (() => Dist.globalCumSum2(df, col("k"), col("w"), col("w"), numParts = 4)))
      calls.foreach { case (tag, call) =>
        call()
        val lines = Dist.drainDigests()
        assert(lines.size == 1 && lines.head.startsWith(s"$tag "),
          s"$tag recorded ${lines.mkString("; ")}")
        // `tag pid:rows:lo:hi|...`
        val rows = lines.head.stripPrefix(s"$tag ").split('|').map(_.split(':')(1).toLong)
        assert(rows.sum == 200, s"$tag per-pid rows ${rows.mkString(",")}")
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.dist.digest") = v
        case None => sys.props -= "graft.dist.digest"
      }
      Dist.drainDigests()
    }
  }
}
