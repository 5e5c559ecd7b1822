package graft.tools

import graft.Bench
import graft.util.{Sessions, Tables}

/** Steady-state per-query timer (dev tool), at the bench cadence: each
  * named query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3), then the
  * bench barrier, then the median is printed — the same
  * [[graft.Bench.timeQuery]] the graded sweep and its steady pass use.
  *
  *   runMain graft.tools.IterAB <sfDir> <query ...>
  *
  * With no query named it times graph_pagerank and dedup_clusters.
  */
object IterAB {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "iter-ab")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // warm
    Tables(spark, dir, "orders").count(); Tables(spark, dir, "documents").count()
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("graph_pagerank", "dedup_clusters")
    val runs = Bench.runsPerQuery
    for (n <- names)
      Bench.timeQuery(spark, n, runs)(graft.SparkEntry.queries(n)(spark, dir).count())
        .foreach(med => println(f"[ab] $n: median of $runs $med%.2f s"))
    spark.stop()
  }
}
