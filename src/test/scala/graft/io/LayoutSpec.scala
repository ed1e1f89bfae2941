package graft.io

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class LayoutSpec extends SparkSpec {

  test("partitioned write prunes directories at planning time") {
    val out = Files.createTempDirectory("graft-layout").resolve("docs").toString
    val docs = graft.Tables.documents(spark, sfDir)
    Layout.writePartitioned(docs, out, Seq("lang"))

    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())

    val filtered = back.filter(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    // the lang predicate must be a partition filter (directory pruning),
    // not a data filter evaluated per row
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filters: ${scan.metadata}")
    assert(filtered.count() == docs.filter(col("lang") === "en").count())

    // pruned scan lists only the matching partition's files
    val allFiles = scan.relation.location.inputFiles.length
    val langs = docs.select("lang").distinct().count()
    assert(langs > 1, "fixture needs multiple lang partitions")
  }

  private def localPath(landed: String): java.nio.file.Path =
    java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(landed).toUri.getPath)

  test("landOnce runs write once per (application, dir) and returns one path") {
    val dir = Files.createTempDirectory("graft-land-once").toString
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    def land() = Layout.landFiles(spark, "spec_once", dir) {
      writes.incrementAndGet()
      Seq("f.txt" -> "x".getBytes("UTF-8"))
    }
    val first = land()
    assert(land() == first)
    assert(writes.get == 1)
    assert(new String(Files.readAllBytes(localPath(first).resolve("f.txt")), "UTF-8") == "x")
  }

  test("landOnce deletes a folder left by an earlier run before writing") {
    val dir = Files.createTempDirectory("graft-land-stale").toString
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val target = localPath(new org.apache.hadoop.fs.Path(
      wh, s"graft_spec_stale_${Layout.dirSuffix(dir)}").toString)
    Files.createDirectories(target)
    Files.write(target.resolve("stale.txt"), "old".getBytes("UTF-8"))
    val landed = Layout.landFiles(spark, "spec_stale", dir)(Seq("new.txt" -> Array[Byte](1)))
    assert(localPath(landed) == target)
    assert(!Files.exists(target.resolve("stale.txt")), "stale file survived the landing")
    assert(Files.exists(target.resolve("new.txt")))
  }

  test("landOnce blocks a concurrent second caller until the write is done") {
    val dir = Files.createTempDirectory("graft-land-race").toString
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val started = new java.util.concurrent.CountDownLatch(1)
    def land() = Layout.landOnce(spark, "spec_race", dir) { p =>
      writes.incrementAndGet()
      started.countDown()
      Thread.sleep(500)
      val out = localPath(p.toString)
      Files.createDirectories(out)
      Files.write(out.resolve("done.txt"), Array[Byte](1))
    }
    val first = new java.util.concurrent.FutureTask[String](() => land())
    new Thread(first).start()
    started.await()
    val second = land()
    assert(Files.exists(localPath(second).resolve("done.txt")),
      "second caller returned before the first caller's write finished")
    assert(first.get() == second)
    assert(writes.get == 1)
  }

  test("landOnce lands a separate folder per dir") {
    val dirs = Seq.fill(2)(Files.createTempDirectory("graft-land-dirs").toString)
    val landed = dirs.map(d => Layout.landFiles(spark, "spec_dirs", d)(Seq("f" -> Array[Byte](1))))
    assert(landed.distinct.size == 2)
    landed.foreach(l => assert(Files.exists(localPath(l).resolve("f"))))
  }

  test("bucketed tables join and aggregate WITHOUT a shuffle on the bucket key") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    Layout.writeBucketed(docs, "docs_bucketed", "doc_id", 4)
    Layout.writeBucketed(
      docs.select(col("doc_id"), length(col("text")).as("len")),
      "lens_bucketed", "doc_id", 4)
    try {
      val joined = spark.table("docs_bucketed")
        .join(spark.table("lens_bucketed"), "doc_id")
      // shuffleExchanges executes the frame itself (AQE finalization) —
      // no separate warm-up collect needed before the plan walk
      assert(shuffleExchanges(joined).isEmpty,
        "bucket-key join shuffled — bucketing metadata not used")
      assert(joined.count() == docs.count(), "bucket-key join dropped or duplicated rows")
      // aggregation on the bucket key is exchange-free too
      val agg = spark.table("docs_bucketed").groupBy("doc_id").agg(count(lit(1)))
      assert(shuffleExchanges(agg).isEmpty,
        "bucket-key aggregation shuffled")
    } finally {
      spark.sql("DROP TABLE IF EXISTS docs_bucketed")
      spark.sql("DROP TABLE IF EXISTS lens_bucketed")
    }
  }

  test("q56 bucketed join runs exchange-free and matches the raw-parquet answer (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    try {
      val q56 = Layout.bucketedOrderRevenue(spark, dir)
      val got = q56.collect().toSeq
      assert(shuffleExchanges(q56).isEmpty,
        "q56 shuffled — bucket metadata unused in join or aggregation")
      // same answer as the identical query on raw parquet (what the
      // DuckDB oracle checks at the driver's gate)
      import graft.Exact.{discPrice, narrow}
      val raw = graft.Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .join(graft.Tables.orders(spark, dir)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(narrow(sum(discPrice(col("l_extendedprice"), col("l_discount"))), 4).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10).collect().toSeq
      assert(got == raw)
    } finally {
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    }
  }

  test("q72 partition-pruned scan: year predicate is a PartitionFilter and skips files") {
    val df = Layout.partitionPrunedRevenue(spark, sfDir)
    val scan = allPlanNodes(executedPlanOf(df)).collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.toString.contains("o_year")),
      s"o_year not resolved as a partition filter: ${scan.metadata}")
    // the pruned scan must read strictly fewer files than the layout holds
    val allFiles = scan.relation.location.inputFiles.length
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles < allFiles,
      s"no files skipped: read $readFiles of $allFiles")
    // values equal the raw-parquet filter (the oracle's formulation)
    val raw = graft.Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == raw)
  }

  test("ensureBucketed re-lands when the source content changes, reuses when unchanged") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-stale-src").toString
    val table = "graft_stale_guard_spec"
    def land(): Unit =
      Layout.ensureBucketed(spark, table, "k", numBuckets = 2)(
        spark.read.parquet(src).select(col("k"), col("v")))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    land()
    assert(spark.table(table).count() == 3)
    // Marker property: survives a reuse (no rebuild), vanishes on re-land
    // (the rebuild drops and re-creates the table).
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('spec.marker' = '1')")
    def hasMarker: Boolean = spark.sql(s"SHOW TBLPROPERTIES $table")
      .filter(col("key") === "spec.marker").count() == 1

    land() // unchanged source → reuse, no rebuild
    assert(hasMarker, "unchanged source must not trigger a rebuild")

    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    land() // mutated source → fingerprint mismatch → re-land
    assert(!hasMarker, "mutated source must trigger a rebuild")
    assert(spark.table(table).count() == 4,
      "re-landed table must serve the new source rows")
    spark.sql(s"DROP TABLE $table")
  }

  test("ensureBucketed re-lands when the build changes over the same source files") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-build-src").toString
    val table = "graft_build_guard_spec"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    def land(build: => org.apache.spark.sql.DataFrame): Unit =
      Layout.ensureBucketed(spark, table, "k", numBuckets = 2)(build)
    land(spark.read.parquet(src).select(col("k"), col("v")))
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('spec.marker' = '1')")
    def hasMarker: Boolean = spark.sql(s"SHOW TBLPROPERTIES $table")
      .filter(col("key") === "spec.marker").count() == 1
    land(spark.read.parquet(src).select(col("k"), col("v")))
    assert(hasMarker, "the same build over unchanged files must not re-land")
    // same files, a new column: the landed table would miss it
    land(spark.read.parquet(src).select(col("k"), col("v"), upper(col("v")).as("u")))
    assert(!hasMarker, "a changed build schema must trigger a rebuild")
    assert(spark.table(table).columns.toSeq == Seq("k", "v", "u"),
      "the re-landed table must have the new build's columns")
    spark.sql(s"DROP TABLE $table")
  }

  test("ErrorIfExists refuses a second write (reference K6 precondition)") {
    val out = Files.createTempDirectory("graft-layout2").resolve("docs").toString
    val docs = graft.Tables.documents(spark, sfDir).limit(10)
    Layout.writePartitioned(docs, out, Seq("lang"))
    intercept[Exception] {
      Layout.writePartitioned(docs, out, Seq("lang"))
    }
  }

  test("compact: many small files become few sized files, rows byte-identical") {
    val in = Files.createTempDirectory("graft-compact-in").toString
    val out = Files.createTempDirectory("graft-compact").resolve("out").toString
    // 40 tiny files — the streaming-sink landing-zone shape
    graft.Tables.documents(spark, sfDir).repartition(40).write.mode("overwrite").parquet(in)
    val inFiles = new java.io.File(in).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(inFiles >= 30, s"fixture should be fragmented, got $inFiles files")
    val totalBytes = new java.io.File(in).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.length()).sum
    val n = Layout.compact(spark, in, out, targetBytes = totalBytes / 4 + 1)
    assert(n == 4, s"expected 4 target files, got $n")
    val outFiles = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(outFiles == 4, s"compacted dir should hold 4 files, got $outFiles")
    // content equality, not just counts
    val a = spark.read.parquet(in).collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(a == b, "compaction must preserve every row")
    // K6 precondition holds for the compacted output too
    intercept[Exception] { Layout.compact(spark, in, out) }
  }

  test("q125 manifest: partitioning-independent; one changed row flips exactly one fingerprint") {
    val base = Files.createTempDirectory("graft-manifest").toString
    // copy all tables; documents gets ONE text mutated, and a different
    // file layout (repartitioned) to prove order/partitioning independence
    new java.io.File(sfDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != "documents.parquet")
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(base, f.getName)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val minId = docs.agg(min(col("doc_id"))).head().getLong(0)
    docs.withColumn("text",
        when(col("doc_id") === minId, concat(col("text"), lit("!"))).otherwise(col("text")))
      .repartition(7) // different file count AND row order than the source
      .write.parquet(s"$base/documents.parquet")
    val a = Layout.datasetManifest(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Layout.datasetManifest(spark, base).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a.keySet == Set("documents", "embeddings", "events", "lineitem", "orders"))
    assert(a("documents")._1 == b("documents")._1, "row count unchanged")
    assert(a("documents")._2 != b("documents")._2, "mutated text must flip the fingerprint")
    for (t <- a.keySet - "documents")
      assert(a(t) == b(t), s"$t: fingerprint must be layout-independent")
  }

  test("q123 reads across two real schema generations, not a single-schema dir") {
    val rows = Layout.schemaEvolvedCensus(spark, sfDir).collect()
    val legacy = rows.filter(_.getString(0) == "__legacy__")
    assert(legacy.length == 1, "gen-1 rows must surface as __legacy__")
    // gen-1 files carry no lang column at all → count(lang) is exactly 0
    assert(legacy.head.getLong(3) == 0L, "legacy rows cannot have lang values")
    assert(rows.length > 1, "gen-2 sources must survive the merged read")
    // the fixture really has a narrower gen-1 schema on disk — the merge
    // is doing work, the query is not just reading one uniform schema
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val gen1 = new java.io.File(new java.net.URI(wh).getPath)
      .listFiles().filter(_.getName.startsWith("graft_docs_evolved_"))
      .head.toPath.resolve("gen1").toString
    val s1 = spark.read.parquet(gen1).schema
    assert(!s1.fieldNames.contains("source") && !s1.fieldNames.contains("lang"),
      s"gen-1 schema should be narrow, got ${s1.fieldNames.mkString(",")}")
  }

  test("q128 CDC merge: counts telescope, fp is content-sensitive, base side broadcast-anti") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val rows = Layout.cdcMergeApply(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // merge arithmetic: updates keep the count; deletes/inserts move it
    for (r <- rows) {
      val (base, del, upd, ins, fin) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(fin == base - del + ins, s"${r.getString(0)}: $fin != $base - $del + $ins")
      assert(upd <= base - del, s"${r.getString(0)}: more updates than survivors")
    }
    // the fixture batch exercises every change class at this SF
    assert(rows.map(_.getLong(2)).sum > 0, "no deletes in fixture batch")
    assert(rows.map(_.getLong(3)).sum > 0, "no updates in fixture batch")
    assert(rows.map(_.getLong(4)).sum > 0, "no inserts in fixture batch")
    // fp gate is CONTENT-sensitive, not just count-sensitive: recompute
    // the same fingerprint over the UNMERGED base — it must differ for
    // any source the batch touched
    import graft.llm.Similarity.hash60
    val us = "\u001f"
    val baseFp = graft.Tables.documents(spark, sfDir)
      .select(col("source"),
        hash60(concat_ws(us, col("doc_id"), col("lang"), col("n_chars"))).as("fp"))
      .groupBy("source").agg(expr("bit_xor(fp)").as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val touched = rows.filter(r => r.getLong(2) + r.getLong(3) + r.getLong(4) > 0)
    assert(touched.nonEmpty)
    for (r <- touched)
      assert(r.getLong(6) != baseFp(r.getString(0)),
        s"${r.getString(0)}: merged fp equals base fp despite changes")
    // plan shape: the touched-key set broadcasts; the base is never
    // shuffled through a sort-merge anti join
    val plan = executedPlanOf(Layout.cdcMergeApply(spark, sfDir))
    val nodes = allPlanNodes(plan)
    assert(nodes.exists {
      case b: BroadcastHashJoinExec => b.joinType.sql == "LEFT ANTI"
      case _ => false
    }, "expected a broadcast left-anti join for the touched keys")
    assert(!nodes.exists {
      case s: SortMergeJoinExec => s.joinType.sql == "LEFT ANTI"
      case _ => false
    }, "base side must not shuffle for the anti join")
  }

  test("q181 snapshot diff recovers exactly the planted CDC delta (closure with q128)") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val rows = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    def bucket(p: String, id: Long): Long = h60(s"$p$id") % 100
    // the planted delta, from q128's bucket definitions
    val dels = rows.filter(r => bucket("cdc-d:", r._1) < 3)
    val upds = rows.filter(r => bucket("cdc-d:", r._1) >= 3 && bucket("cdc-u:", r._1) < 6)
    val ins = rows.filter(r => bucket("cdc-i:", r._1) < 2)

    val got = Layout.snapshotDiff(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    assert(got.keySet == rows.map(_._3).toSet)
    val U = ""
    def xor(fps: Seq[Long]): Long = fps.foldLeft(0L)(_ ^ _)
    rows.groupBy(_._3).foreach { case (src, rs) =>
      val (nA, nR, nC, nU, fpA, fpR, fpC) = got(src)
      val d = dels.filter(_._3 == src); val u = upds.filter(_._3 == src)
      val i = ins.filter(_._3 == src)
      assert(nA == i.size.toLong, s"$src added = planted inserts")
      assert(nR == d.size.toLong, s"$src removed = planted deletes")
      assert(nC == u.size.toLong, s"$src changed = planted updates")
      assert(nU == rs.size.toLong - d.size - u.size, s"$src unchanged telescopes")
      // fingerprints certify the recovered rows' CONTENT, not just counts
      assert(fpA == xor(i.map(r => h60(s"${r._1 + 1000000}$U${r._2}$U${r._4 + 1}"))),
        s"$src added_fp")
      assert(fpR == xor(d.map(r => h60(s"${r._1}$U${r._2}$U${r._4}"))), s"$src removed_fp")
      assert(fpC == xor(u.map(r => h60(s"${r._1}${U}xx$U${r._4 + 100}"))), s"$src changed_fp")
    }
  }

  test("q179 rendezvous re-sharding matches a Scala model; moves go only INTO the new shard") {
    val S = Layout.RdvOldShards
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ids = graft.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    // per-doc model: argmax over (weight, shard) pairs — lexicographic,
    // exactly the struct order both engines compare by
    case class A(oldRdv: Int, newRdv: Int, oldMod: Long, newMod: Long)
    val model = ids.map { id =>
      val ws = (0 to S).map(s => (h60(s"rdv:$id:$s"), s))
      val h = h60(s"shmod:$id")
      id -> A(ws.take(S).max._2, ws.max._2, h % S, h % (S + 1))
    }.toMap

    // invariant: a rendezvous move is always INTO the new shard S —
    // old shards never exchange docs among themselves
    model.values.filter(a => a.oldRdv != a.newRdv).foreach { a =>
      assert(a.newRdv == S, s"moved doc landed on old shard ${a.newRdv}")
    }
    val rdvMoved = model.values.count(a => a.oldRdv != a.newRdv).toLong
    val modMoved = model.values.count(a => a.oldMod != a.newMod).toLong
    assert(rdvMoved <= modMoved,
      s"rendezvous moved $rdvMoved >= mod's $modMoved — minimal-movement lost")

    // census from the model ≡ the query's output
    val out = Layout.rendezvousResharding(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val n = ids.length.toLong
    def maxShard(f: A => Long): Long =
      model.values.groupBy(f).values.map(_.size.toLong).max
    assert(out("rendezvous") == ((n, rdvMoved, 10000 * rdvMoved / n,
      10000 * maxShard(_.newRdv.toLong) / n)), s"rendezvous row: ${out("rendezvous")}")
    assert(out("mod") == ((n, modMoved, 10000 * modMoved / n,
      10000 * maxShard(_.newMod) / n)), s"mod row: ${out("mod")}")
  }
}
