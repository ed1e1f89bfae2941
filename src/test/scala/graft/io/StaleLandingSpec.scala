package graft.io

import graft.SparkSpec
import graft.relational.Relational
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, StandardCopyOption}

/** A landing must never serve rows from an older build: tables rewritten
  * at the same paths within one session are read again by the next call,
  * both through a `Layout.landOnce` folder (q72's year-partitioned
  * orders) and through a `SessionMemo` frame (q96's co-purchase counts). */
class StaleLandingSpec extends SparkSpec {

  private def copyOf(src: Path): Path = {
    val dst = Files.createTempDirectory("graft-stale-landing")
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst
  }

  /** Rewrite `dir/name.parquet` in place with every other order's rows. */
  private def rewrite(dir: Path, name: String, key: String): Unit = {
    val target = dir.resolve(s"$name.parquet")
    val staged = Files.createTempDirectory("graft-stale-rewrite").resolve(name)
    spark.read.parquet(target.toString).filter(col(key) % 2 === 0)
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def results(dir: Path): Seq[Seq[Row]] = Seq(
    Layout.partitionPrunedRevenue(spark, dir.toString).collect().toSeq,
    Relational.copurchasePairs(spark, dir.toString).collect().toSeq)

  test("q72 and q96 read tables rewritten at the same paths within a session") {
    val dir = copyOf(java.nio.file.Paths.get(sfDir))
    val before = results(dir)
    rewrite(dir, "orders", "o_orderkey")
    rewrite(dir, "lineitem", "l_orderkey")
    val after = results(dir)
    val fresh = results(copyOf(dir))
    Seq("q72", "q96").zipWithIndex.foreach { case (q, i) =>
      assert(fresh(i) != before(i), s"$q: the rewrite did not change the answer")
      assert(after(i) == fresh(i), s"$q served its landing from before the rewrite")
    }
  }
}
