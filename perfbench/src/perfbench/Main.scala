package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One run: generate the file inputs, set the
  * workload up several times, warm up, write the query outputs for the
  * checks, then time closed-loop passes over the job list. The raw record
  * goes to `--out` as JSON; `run.py` turns it into metrics and checks the
  * outputs.
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                      --tables DIR --work DIR --out FILE --cores K
  *                      --warm-passes N --spans FILE [--fail JOB]
  *   perfbench.Main gen --seed N --work DIR
  */
object Main {
  final case class Call(name: String, secs: Double, ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen") => Gen.write(opts("seed").toLong, new File(opts("work")))
      case Some("run") => run(opts)
      case _ => sys.error("usage: perfbench.Main run|gen --key value ...")
    }
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Fixed pure-JVM work (hash chain plus sort), best of three, seconds. */
  private def hostProbe(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var d = new Array[Byte](32)
    var i = 0
    while (i < 200000) { d = md.digest(d); i += 1 }
    val a = Array.tabulate(1 << 20)(j => (j * 2654435761L ^ d(j & 31)).toInt)
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }.min

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def treeBytes(f: File): Long =
    if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length() }
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  private def session(cores: Int, state: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new File(state, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(state, "local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(state, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(state, "checkpoint").getAbsolutePath)
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.SessionMemos.clearAll()
  }

  private def call(spark: SparkSession, job: Job, out: File, fail: String): Call = {
    val t0 = System.nanoTime()
    try {
      Tracer.span(s"job.${job.name}") {
        Tracer.span(job.layer) {
          if (job.name == fail) throw new IllegalStateException(s"injected failure in ${job.name}")
          job.run(spark, out)
        }
      }
      Call(job.name, (System.nanoTime() - t0) / 1e9, ok = true, null)
    } catch {
      case e: Throwable =>
        Call(job.name, (System.nanoTime() - t0) / 1e9, ok = false, e.toString.take(300))
    }
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val tables = new File(o("tables")).getAbsolutePath
    val work = new File(o("work")).getAbsoluteFile
    val cores = o("cores").toInt
    // setup_s is the median of the set-ups; a traced run sets up as often,
    // so its passes start from the same warm state
    val setups = 2
    val fail = o.getOrElse("fail", "")
    // a traced run warms up one pass more: its first timed pass is the
    // untraced side of the tracing-overhead comparison
    val warmPasses = o("warm-passes").toInt + (if (traced) 1 else 0)
    val in = new File(work, "in")
    val outs = new File(work, "out")
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - tPhase) / 1e9; tPhase = now
    }
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "java" -> System.getProperty("java.version"))

    if (workload == "file_prep") Gen.write(seed, in)
    rec("input_bytes") = if (workload == "file_prep") treeBytes(in) else treeBytes(new File(tables))
    rec("probe_before_s") = hostProbe()
    phase("inputs")

    // --- set-up: session start plus one untimed pass, repeated on fresh
    // landing state; the last session stays up for the timed passes
    var spark: SparkSession = null
    var state: File = null
    val jobs = Workloads.jobs(workload, tables, in)
    // every pass calls the jobs in its own order, drawn from the seed
    val order = new scala.util.Random(seed)
    def ordered(): Seq[Job] = order.shuffle(jobs)
    val setupS = (1 to setups).map { r =>
      if (spark != null) stop(spark)
      state = new File(work, s"state$r")
      graft.io.Layout.drainLandingSecs(); graft.SessionMemos.drainBuildSecs()
      val t0 = System.nanoTime()
      spark = session(cores, state)
      val pass = new File(outs, s"setup$r")
      val calls = ordered().map(call(spark, _, pass, ""))
      val secs = (System.nanoTime() - t0) / 1e9
      deleteTree(pass)
      calls.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] setup: ${c.name} failed: ${c.error}"))
      secs
    }
    phase("setup")
    rec("spark") = spark.version
    rec("setup_s") = setupS
    rec("landing_s") = graft.io.Layout.drainLandingSecs()
    rec("memo_build_s") = graft.SessionMemos.drainBuildSecs()
    val stateDirs = Seq(new File(state, "warehouse"), new File(state, "checkpoint"))
    val storage = new StorageSampler(spark, stateDirs)
    rec("landed_bytes") = storage.landedBytes

    // --- untimed warm-up passes: after set-up the JIT keeps improving for
    // several passes, and every run should time the same point of that curve
    (1 to warmPasses).foreach { _ =>
      val pass = new File(outs, "warm")
      ordered().foreach(call(spark, _, pass, ""))
      deleteTree(pass)
    }
    // query outputs for the checks: written once, outside the timed passes
    // (this pass warms the JIT like the ones above)
    val check = new File(work, "check")
    if (workload != "file_prep") {
      val names = jobs.map(_.name)
      rec("dump_errors") = names.flatMap { q =>
        try { Workloads.dumpQuery(spark, q, tables, check); None }
        catch { case e: Throwable => Some(q -> e.toString.take(300)) }
      }.toMap
      rec("output_bytes") = treeBytes(check)
      rec("check_dir") = check.getAbsolutePath
      rec("oracle_sql") = Workloads.oracleSql(names)
    }
    phase("warm")

    // --- timed passes: closed loop, one caller; traced runs alternate
    // untraced (even) and traced (odd) passes, so the tracing overhead is
    // measured in-run at the same point of the warm-up curve
    val stats = new EngineStats(spark)
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val relands = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val rebuilds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val layerProbes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var lastPass: File = null
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    val minPasses = if (traced) 2 else 1
    var n = 0
    while (n < minPasses || elapsed < seconds) {
      val tracing = traced && n % 2 == 1
      if (tracing) { stats.install(); Tracer.enabled = true }
      if (lastPass != null) deleteTree(lastPass)
      lastPass = new File(outs, s"pass$n")
      stats.reset(); storage.resetPeak()
      val cpu0 = cpuNs()
      val calls = ordered().map { j =>
        val c = call(spark, j, lastPass, fail)
        storage.afterJob()
        c
      }
      val cpu = (cpuNs() - cpu0) / 1e9
      graft.io.Layout.drainLandingSecs().keys.foreach(relands(_) += 1)
      graft.SessionMemos.drainBuildSecs().keys.foreach(rebuilds(_) += 1)
      val p = scala.collection.mutable.LinkedHashMap[String, Any](
        "traced" -> tracing, "cpu_s" -> cpu, "storage_peak_bytes" -> storage.peakBytes,
        "calls" -> calls.map(c => Map("name" -> c.name, "s" -> c.secs, "ok" -> c.ok, "error" -> c.error)))
      if (tracing) {
        p("engine") = stats.snapshot()
        if (workload == "file_prep") {
          val (scan, dims, tiles) = Workloads.tileStages(spark, in)
          val (sinkS, files, bytes) = Workloads.sinkWrite(spark, in, new File(outs, s"probe$n"))
          deleteTree(new File(outs, s"probe$n"))
          layerProbes += Map("scan_s" -> scan, "dims_s" -> dims, "tiles_s" -> tiles,
            "sink_s" -> sinkS, "sink_files" -> files, "sink_bytes" -> bytes)
        }
        Tracer.enabled = false; stats.uninstall()
      }
      passes += p.toMap
      n += 1
    }
    phase("timed")
    rec("passes") = passes
    rec("relands") = relands.toMap
    rec("rebuilds") = rebuilds.toMap
    rec("layer_probes") = layerProbes
    storage.stop()

    if (workload == "file_prep") {
      rec("output_bytes") = treeBytes(lastPass)
      rec("check_dir") = lastPass.getAbsolutePath
      rec("scanned_images") = Option(new File(in, "images").listFiles()).map(_.length).getOrElse(0)
      rec("tiles_written") = Workloads.lastTiles
      rec("converted") = Workloads.lastConverted
      rec("file_params") = Map("tile" -> Gen.Tile, "overlap" -> Gen.Overlap,
        "caption" -> Gen.Caption, "lines_per_file" -> Gen.LinesPerSplitFile)
    }
    if (traced) {
      Tracer.enabled = true
      rec("kernels_ns_row") = Kernels.nsPerRow(spark, tables)
      val spans = Tracer.spans
      rec("self_s") = Tracer.selfSeconds(spans)
      rec("span_count") = spans.size
      val traceFile = new File(o("spans"))
      traceFile.getParentFile.mkdirs()
      Files.write(traceFile.toPath, spans.map(Tracer.toJson).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }
    phase("probes")
    stop(spark)
    rec("probe_after_s") = hostProbe()
    phase("stop")
    rec("phase_s") = phases
    Files.write(new File(o("out")).toPath, Json.render(rec).getBytes(StandardCharsets.UTF_8))
  }
}
