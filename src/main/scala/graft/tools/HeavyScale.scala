package graft.tools

import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor headroom run: synthesize a ×`factor` corpus from the
  * sf0.1 fixtures as DISJOINT copies — every id space shifted per copy,
  * document tokens suffixed per copy, embeddings decorrelated by a
  * per-copy deterministic sign pattern — so workload VOLUME scales
  * exactly ×factor while similarity structure (near-dup pair density,
  * ANN neighborhoods, per-key event depth) stays constant per copy. A
  * replica corpus without the perturbations would make every cross-copy
  * doc an exact dup and every cross-copy vector a cos≈1 neighbor,
  * turning the dedup/ANN paths quadratic in `factor` and measuring an
  * artifact, not headroom.
  *
  * Then the heaviest registered queries run at sf0.1 and at the scaled
  * dir under the TaskMetrics listener, printing wall / tasks / shuffle
  * bytes / peak per-task memory for both, plus the wall ratio — the
  * super-linearity check SCALE.md records (a plan that holds at 100 TB
  * must scale ~linearly here; the r7 k=256 interpreted-codegen cliff
  * was only visible at exactly this kind of step-up).
  *
  * Usage: HeavyScale [factor] [outDir] [baseDir]
  */
object HeavyScale {

  private val Heavy = Seq(
    "graph_pagerank", "graph_hits", "stream_join", "stream_left_join",
    "dedup_clusters", "dedup_clusters_exact", "dedup_minhash",
    "decontam_near", "ann_ivfpq_topk", "quality_model_score",
    // round-10 additions: the payload-heavy decode+LSH pipeline, the
    // two-retriever fusion, and the rotated-PQ path
    "image_dedup_clusters", "hybrid_rrf_topk", "ann_opq_topk",
    // round-11 additions: the residual-encode ADC path and the
    // probe-then-append streaming index maintenance drain
    "ann_ivfadc_topk", "stream_dedup_index_maintenance",
    // round-12 additions: the full-index compaction folds and the
    // weighted-teleport rank
    "dedup_index_compact", "bm25_index_compact_topk",
    "graph_pagerank_weighted",
    // round-13 addition: the IVF tiered-compaction arm
    "ann_ivf_compact_topk")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val base = args.lift(2).getOrElse("/root/testdata/sf0.1")
    // optional query filter: HeavyScale 10 out base q1,q2 re-measures
    // just the named queries against an existing scaled corpus
    val only = args.lift(3).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.local(cpus, "graft-heavy-scale")
    val m = new ScalePipeline.StageMetrics
    spark.sparkContext.addSparkListener(m)

    def t(dir: String, name: String): DataFrame = graft.util.Tables(spark, dir, name)

    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      println(s"[heavy-scale] generating x$factor corpus at $out")
      new java.io.File(out).mkdirs()
      // dimension tables pass through unscaled (the heavy set joins
      // them only as broadcast dims)
      Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
        t(base, n).write.mode("overwrite").parquet(s"$out/$n.parquet")
      }
      def shift(df: DataFrame, keys: Seq[String], i: Int, span: Long): DataFrame =
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * span)))
      def copies(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
        (0 until factor).map(i => per(df, i)).reduce(_ unionByName _)

      val D = 1000000L
      copies(t(base, "documents")) { (d, i) =>
        val shifted = shift(d, Seq("doc_id"), i, D)
        // per-copy token suffix: texts are DISTINCT across copies, so
        // shingle sets are disjoint and dup structure stays per-copy
        if (i == 0) shifted
        else shifted.withColumn("text",
          regexp_replace(col("text"), "([a-z0-9]+)", s"$$1q$i"))
      }.write.mode("overwrite").parquet(s"$out/documents.parquet")

      copies(t(base, "embeddings")) { (d, i) =>
        val shifted = shift(d, Seq("vec_id"), i, D)
        // deterministic per-(copy, dim) sign flips decorrelate copies
        // (cosine across copies ≈ random) without changing norms
        if (i == 0) shifted
        else shifted.withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> CAST(x * (1 - 2 * pmod(xxhash64($i * 64 + j), 2)) AS FLOAT))"))
      }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      copies(t(base, "events")) { (d, i) =>
        shift(d, Seq("event_id", "user_id"), i, D)
      }.write.mode("overwrite").parquet(s"$out/events.parquet")

      copies(t(base, "orders")) { (d, i) =>
        shift(d, Seq("o_orderkey", "o_custkey"), i, D)
      }.write.mode("overwrite").parquet(s"$out/orders.parquet")

      copies(t(base, "lineitem")) { (d, i) =>
        shift(d, Seq("l_orderkey", "l_partkey", "l_suppkey"), i, D)
      }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      println("[heavy-scale] generation done")
    }

    def run(name: String, dir: String): (Double, Long, Long, Double, Double) = {
      m.reset()
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      (wall, rows, m.tasks.sum, m.shuffleWrite.sum / 1e6, m.peakTaskMem.get / 1e6)
    }

    Heavy.filter(q => only.forall(_.contains(q))).foreach { q =>
      val (w1, r1, t1, s1, p1) = run(q, base)
      val (wN, rN, tN, sN, pN) = run(q, out)
      val ratio = wN / math.max(w1, 0.001)
      println(f"""[heavy-scale] {"query":"$q","factor":$factor,"base_wall_s":$w1%.2f,"scaled_wall_s":$wN%.2f,"wall_ratio":$ratio%.1f,"base_rows":$r1,"scaled_rows":$rN,"base_shuffle_mb":$s1%.1f,"scaled_shuffle_mb":$sN%.1f,"base_peak_task_mb":$p1%.1f,"scaled_peak_task_mb":$pN%.1f,"scaled_tasks":$tN}""")
    }
    spark.stop()
  }
}
