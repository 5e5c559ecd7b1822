package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timeQuery` is the one per-query timer behind the bench sweep,
  * its steady pass and tools.IterAB: a query that throws must come back
  * as its failure with no time, and one that returns as the median of
  * its runs — with the reset applied after the runs either way.
  */
class BenchTimingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a query that throws reports its failure and no time") {
    var calls = 0
    var resets = 0
    val boom = new IllegalStateException("boom")
    val out = Bench.timeQuery(spark, "throws", 3, reset = _ => resets += 1) {
      calls += 1
      if (calls == 2) throw boom
    }
    assert(out == Left(boom))
    assert(calls == 2, "the run after a throw must not start")
    assert(resets == 1)
  }

  test("a query that returns reports the median of its runs") {
    // run times 0.3 s, 0.02 s, 0.1 s: the median is the 0.1 s run, far
    // from both the mean (0.14 s) and either extreme
    val sleepsMs = Iterator(300L, 20L, 100L)
    var calls = 0
    var resets = 0
    val out = Bench.timeQuery(spark, "sleeps", 3, reset = _ => resets += 1) {
      calls += 1
      Thread.sleep(sleepsMs.next())
    }
    assert(calls == 3)
    assert(resets == 1)
    val med = out.toOption.get
    assert(med >= 0.1 && med < 0.3, s"median $med s")
  }
}
