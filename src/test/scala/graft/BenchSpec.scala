package graft

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's record contract: the stdout line fits a 2000-char log tail for
  * every registered name, the record path is resolved once with the
  * cpus-divert rule and read from that same path, and record times render
  * exactly as `%.3f`. */
class BenchSpec extends AnyFunSuite {

  test("the stdout line stays under 1800 chars with the 40 longest names slowest") {
    val names = SparkEntry.queries.keys.toSeq
    val longest = names.sortBy(n => (-n.length, n)).take(40).toSet
    val mins = names.map(n => n -> (if (longest(n)) 9999.99 else 1.234))
    val line = Bench.stdoutLine(12345.678901234567, 32, "/data/harness/testdata/sf0.1", mins)
    assert(line.length <= 1800, s"${line.length} chars")
    val json = parse(line)
    assert(json \ "partial" == JBool(true))
    assert(json \ "metric" == JString("total"))
    assert(json \ "total" == json \ "value")
    val JObject(qs) = json \ "queries"
    assert(qs.map(_._1).toSet == longest)
    assert(qs.forall(_._2 == JDouble(9999.99)))
  }

  test("record path: an 8-core run reads and writes the cpus-keyed record") {
    val dir = Files.createTempDirectory("bench_spec")
    val default = dir.resolve("BENCH_LOCAL.json")
    val c8 = dir.resolve("BENCH_LOCAL_c8.json")
    Files.writeString(default, """{"queries":{"q01":1.000},"cpus":32,"sf":"sf"}""")
    Files.writeString(c8, """{"queries":{"q01":2.000},"cpus":8,"sf":"sf"}""")

    val (p8, rec8) = Bench.recordPath(None, 8, default)
    assert(p8 == c8)
    assert(rec8 \ "cpus" == JInt(8) && rec8 \ "queries" \ "q01" == JDouble(2.0))

    val (p32, rec32) = Bench.recordPath(None, 32, default)
    assert(p32 == default && rec32 \ "cpus" == JInt(32))

    // an explicit output is taken as given, and read as the baseline
    val (pOut, recOut) = Bench.recordPath(Some(c8.toString), 32, default)
    assert(pOut == c8 && recOut \ "cpus" == JInt(8))

    // no record yet: the default path, with no baseline
    val empty = dir.resolve("none").resolve("BENCH_LOCAL.json")
    assert(Bench.recordPath(None, 8, empty) == (empty, JNothing))
  }

  test("record times render exactly as %.3f, the -1 sentinel included") {
    val rnd = new scala.util.Random(7)
    val ts = Seq(-1.0, 0.0, 0.0005, 1.0005, 2.5, 140.82351292499993) ++
      Seq.fill(20000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(5)))
    ts.foreach { t =>
      assert(compact(Bench.secs(t)) == f"$t%.3f", s"t=$t")
    }
  }
}
