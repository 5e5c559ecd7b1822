package graft.tools

import graft.operators.Curation
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planted-skew harness for the salted / capped operators — the
  * generalization of tools/AsofScale's hot-key arm to the curation
  * family. Synthesizes a corpus-shaped frame with engineered skew far
  * beyond anything organic:
  *
  *   - one domain holds 30% of all docs (RefinedWeb's nightmare case
  *     for per-domain windows),
  *   - one language holds 90% (the priority-sample hot group),
  *   - one LSH (band, bucket) holds 30% of all banded rows (the
  *     degenerate near-empty-doc bucket).
  *
  * and measures, per operator, wall / tasks / shuffle bytes / PEAK
  * PER-TASK EXECUTION MEMORY (the number that proves no operator
  * funnels a hot key through one task's memory):
  *
  *   - priorityTopK: the salted two-stage rank — the 90% language must
  *     not concentrate on one task before the ≤64·k-candidate final
  *     rank.
  *   - domain-quota window (row_number ≤ 5 per domain): Spark's
  *     WindowGroupLimit pushes the rank filter below the sort, so the
  *     hot domain costs a 5-row heap per task, not a 1.5M-row sort.
  *   - Dedup.candidatePairs bucket-cap split: the 30% bucket emits an
  *     O(bucket) spanning star (hot_n − 1 pairs), never the ~1.1×10¹²
  *     pair self-join; peak task memory stays flat because the split
  *     is a groupBy, not a window.
  *
  * Invariants are asserted, not just printed: group top-k counts, the
  * star-pair arithmetic, and a peak-task-memory ceiling (512 MB —
  * an order of magnitude below what any funnel-through-one-task
  * failure produces at these sizes).
  *
  * Usage: SkewHarness [nDocs]   (default 5 000 000)
  */
object SkewHarness {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.local(cpus, "graft-skew-harness")
    val m = new ScalePipeline.StageMetrics
    spark.sparkContext.addSparkListener(m)

    // 30% hot domain, 90% hot language, deterministic hash-derived rest
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) < 3, lit("com.hot.domain"))
        .otherwise(concat(lit("com.dom"), pmod(xxhash64(col("id")), lit(100000L))))
        .as("surt_host"),
      when(pmod(col("id"), lit(10)) < 9, lit("en"))
        .otherwise(concat(lit("l"), pmod(xxhash64(col("id") + 1), lit(20L))))
        .as("lang"),
      (pmod(xxhash64(col("id") + 3), lit(5000L)) + 50L).as("n_chars"))

    def stage(name: String)(f: => (Long, String)): Unit = {
      m.reset()
      val t0 = System.nanoTime()
      val (rows, note) = f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val peakMb = m.peakTaskMem.get / 1e6
      println(f"""[skew] {"op":"$name","n":$n,"wall_s":$wall%.1f,"rows":$rows,"tasks":${m.tasks.sum},"shuffle_write_mb":${m.shuffleWrite.sum / 1e6}%.1f,"peak_task_mem_mb":$peakMb%.1f,"note":"$note"}""")
      require(peakMb < 512.0,
        s"$name peak task memory $peakMb MB — a hot key funneled through one task")
    }

    stage("priority_topk_salted") {
      val scored = Curation.priorityScores(docs, "doc_id", col("n_chars"), col("lang"))
      val top = Curation.priorityTopK(scored, "doc_id", 50)
        .groupBy(col("grp")).agg(count(lit(1)).as("c")).collect()
      require(top.forall(_.getLong(1) == 50L),
        s"every group must fill its k=50: ${top.mkString(",")}")
      (top.map(_.getLong(1)).sum, s"${top.length} groups x 50")
    }

    stage("domain_quota_window_limit") {
      val w = Window.partitionBy(col("surt_host"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val kept = docs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .agg(count(lit(1)).as("c"),
          sum(when(col("surt_host") === "com.hot.domain", 1L).otherwise(0L))
            .as("hot"))
        .head()
      require(kept.getLong(1) == 5L, s"hot domain must keep exactly 5, got ${kept.getLong(1)}")
      (kept.getLong(0), s"hot domain kept ${kept.getLong(1)}")
    }

    stage("bucket_cap_star") {
      // 30% of rows collide in one (band, bucket); the rest spread over
      // 20M buckets (benign birthday collisions then expect
      // ~cold²/(2·buckets) ≈ n/30 pairs — kept well inside the bound
      // so the assertion isolates the HOT bucket's behavior)
      val coldBuckets = 20000000L
      val banded = docs.select(col("doc_id"), lit(0).as("band"),
        when(pmod(col("doc_id"), lit(10)) < 3, lit(0L))
          .otherwise(pmod(xxhash64(col("doc_id")), lit(coldBuckets)) + 1L)
          .as("bucket"))
      val hotN = n / 10 * 3
      val pairs = graft.dedup.Dedup.candidatePairs(banded)
      val stats = pairs.agg(count(lit(1)).as("c"),
        sum(when(col("id1") === 0L, 1L).otherwise(0L)).as("star")).head()
      // the hot bucket must contribute exactly its spanning star —
      // hot_n − 1 pairs anchored at its min doc_id (= 0 here), never
      // the ~(hot_n²)/2 ≈ 1.1×10¹² self-join
      require(stats.getLong(1) == hotN - 1,
        s"expected ${hotN - 1} star pairs from the hot bucket, got ${stats.getLong(1)}")
      require(stats.getLong(0) < hotN + n,
        s"pair volume ${stats.getLong(0)} is super-linear — the cap failed")
      (stats.getLong(0), s"star=${stats.getLong(1)} of hot_n=$hotN")
    }

    spark.stop()
  }
}
