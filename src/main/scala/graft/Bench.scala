package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

object Bench {

  /** Runs per query: `SPARK_GRAFT_BENCH_RUNS`, default 3. At n=1,
    * sub-second queries swing ±40% run-to-run locally and a regression
    * can't be told from noise; the median of N is a steady-state number.
    * The graded total is the sum of the sweep's medians.
    */
  private[graft] def runsPerQuery: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)

  private val debug = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")

  /** Per-query session-state barrier: a query must not inherit another
    * query's leaked state. r6's 4-10× neighbor pollution traced to the
    * old HITS implementation's per-round DECIMAL(38,0) materializations —
    * with that fixed, an A/B at local[32]/sf0.1 showed every recorded
    * median within 1.5× of its standalone steady-state cost. The barrier
    * that remains is the CHEAP reset set: leaked cache entries, persistent
    * RDDs (the [[unpersistable]] ones), and the memory-sink temp views
    * completed stream queries leave behind (each holds its full result
    * for the session otherwise). A forced System.gc() per query was
    * tried and REJECTED: it made the persisted-index probe path 8×
    * slower (soft-reference/code-cache churn) — worse than the residue
    * it was meant to clear.
    */
  private[graft] def barrier(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    unpersistable(spark.sparkContext.getPersistentRDDs.values)
      .foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** The persistent RDDs the [[barrier]] may unpersist: all but the
    * checkpointed ones. A locally checkpointed RDD's lineage is
    * truncated, so once unpersisted it could never be recomputed.
    */
  private[graft] def unpersistable(rdds: Iterable[RDD[_]]): Iterable[RDD[_]] =
    rdds.filterNot(_.isCheckpointed)

  /** Times one query at the bench cadence: `runs` runs, then `reset`
    * (the [[barrier]] unless a caller substitutes its own), then the
    * median run time. A run that throws ends the query: the result is
    * the exception, never its fail-fast time, and the cause is printed
    * to stderr. The reset runs either way.
    */
  private[graft] def timeQuery(spark: SparkSession, name: String, runs: Int,
                               reset: SparkSession => Unit = barrier)(
                               query: => Any): Either[Throwable, Double] = {
    val gc0 = gcMs
    val outcome =
      try {
        val times = Seq.fill(runs) {
          val t0 = System.nanoTime()
          query
          (System.nanoTime() - t0) / 1e9
        }.sorted
        Right(times(times.size / 2))
      } catch { case e: Throwable => Left(e) }
    reset(spark)
    outcome match {
      case Left(e) => System.err.println(s"[bench] $name failed: $e")
      case Right(med) if debug =>
        val rt = Runtime.getRuntime
        val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        val storeMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1 << 20)
        val ccMb = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / (1 << 20)
        System.err.println(
          f"[benchdbg] $name%-28s med=$med%7.2fs gc=+${gcMs - gc0}%5dms heap=${heapMb}%5dMB store=${storeMb}%4dMB codecache=${ccMb}%4dMB rdds=${spark.sparkContext.getPersistentRDDs.size}%3d")
      case _ =>
    }
    outcome
  }

  /** The queries the steady pass re-times: a fixed list, so two runs
    * report steady medians for the same keys (a sweep-time cut lets
    * noise pick the set). Listed: the iterative graph jobs and the
    * stateful stream drains, whose medians drift across a long
    * contiguous sweep (`stream_join` measured 3.1 s early against 7.6 s
    * late on one binary), and the 30 queries slowest in the sf0.1 sweep
    * of BENCH_SELF.json, where a contended box manufactures phantom
    * round-over-round regressions. 32 names keep the compact line
    * inside its budget.
    */
  private[graft] val SteadyQueries: Seq[String] = Seq(
    "ann_bq_topk", "ann_ivfadc_topk", "ann_ivfpq_topk", "ann_opq_topk", "ann_pq_topk",
    "dedup_clusters", "dedup_clusters_exact", "dedup_index_compact",
    "dedup_index_manifest", "dedup_index_timetravel", "dedup_ngram_jaccard",
    "dedup_simhash", "graph_hits", "graph_pagerank", "graph_pagerank_personalized",
    "graph_pagerank_weighted", "image_dedup_clusters", "o9_grouped_topk",
    "q21_sole_late_supplier", "quality_ppl_buckets", "source_overlap",
    "stream_ann_index_maintenance", "stream_asof_enrich", "stream_curate",
    "stream_dedup", "stream_dedup_index_maintenance", "stream_funnel", "stream_join",
    "stream_left_join", "stream_static_enrich", "stream_warc_ingest", "stream_windows")

  /** The steady set of one sweep: [[SteadyQueries]] less the queries
    * the sweep saw fail. The sweep's timings play no part.
    */
  private[graft] def steadyOf(sweep: Seq[(String, Either[Throwable, Double])]): Seq[String] = {
    val passed = sweep.collect { case (n, Right(_)) => n }.toSet
    SteadyQueries.filter(passed)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local(appName = "graft-bench", conf = Map(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // the streaming queries run back-to-back 3× each; a stopped query's
      // state store providers (full join/dedup state in memory) unload
      // only on the maintenance tick — at the 60s default, 9 consecutive
      // stateful lifecycles stack their state and the tail queries pay
      // the memory pressure
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "5s"))
    // warm the JVM/codegen/IO paths so the first timed query isn't
    // charged for session bring-up (~5-10s of JIT on a cold JVM)
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q1_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => })
    // warm the Structured Streaming machinery too (microbatch engine,
    // state store, file source/memory sink classes) — same rationale:
    // the first streaming query should measure the query, not class
    // loading. A 10-row file stream through a windowed agg covers it.
    try {
      val warmDir = java.nio.file.Files.createTempDirectory("bench_stream_warm").toString
      spark.range(10).selectExpr("id AS event_id",
        "id * 1000000000 AS ts", "id AS user_id",
        "'w' AS event_type", "1.0 AS value", "'{}' AS props")
        .write.mode("overwrite").parquet(warmDir)
      val q = graft.streaming.EventStream.windowedCounts(
          graft.streaming.EventStream.readEvents(spark, warmDir))
        .writeStream.format("memory").queryName("bench_warm")
        .outputMode("complete").start()
      q.processAllAvailable(); q.stop()
    } catch { case _: Throwable => }
    val runs = runsPerQuery
    val wall0 = System.nanoTime()
    // sorted name order: Map iteration order is hash-based, so adding a
    // query used to reshuffle every query's position — round-over-round
    // numbers compared different warm-up/neighbor contexts. Sorted order
    // keeps each query's context stable across rounds.
    // a query that THROWS is recorded as failed, not as its fail-fast
    // latency: an AnalysisException returns in ~60ms, and folding that
    // into the total under-reports the round by the query's real cost
    // while round-over-round totals silently compare different query sets
    val sweep = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeQuery(spark, name, runs)(fn(spark, sfDir).count())
    }
    val results = sweep.collect { case (n, Right(t)) => n -> t }
    val sweepFailed = sweep.collect { case (n, Left(_)) => n }
    // isolated steady-state re-measurement of a fixed set (see
    // [[SteadyQueries]]), each re-run AFTER the full sweep with the
    // barrier applied: a graded median that disagrees with its own
    // steady number in the SAME JSON shows an environmental swing, not a
    // plan regression
    val steadySet = steadyOf(sweep)
    val steadyRuns = steadySet.map { name =>
      name -> timeQuery(spark, name, runs)(SparkEntry.queries(name)(spark, sfDir).count())
    }
    // a query that throws only in the steady pass has no steady number
    val steady = steadyRuns.collect { case (n, Right(t)) => n -> t }
    val failedNames = sweepFailed ++ steadyRuns.collect { case (n, Left(_)) => n }
    val wall = (System.nanoTime() - wall0) / 1e9
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val steadyJson = steady.map { case (k, v) => "\"" + k + "\":" + "%.2f".format(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"steady_medians":$steadyJson,"sf":"$sfDir","runs":$runs,"wall_sec":${math.rint(wall * 1000) / 1000}}"""
    println(full)
    // The harness that collects this output keeps only the TAIL of it
    // (r5: the full-precision line above grew past the window as the
    // registry passed ~70 queries, and the leading {"metric":"total",...}
    // was cut off — the total became invisible). Emit a LAST line that is
    // guaranteed to fit: totals at 3dp, then queries slowest-first at 2dp
    // until a fixed char budget, the remainder folded into "others_sum".
    // Slowest-first means what's dropped is exactly what matters least.
    def f2(v: Double): String = "%.2f".format(v)
    // r17 fix (r16 verdict #1): the `queries` map used to be budgeted
    // AFTER steady_medians was embedded in the fixed prefix — a slow sweep
    // inflated the steady set past the whole budget and ZERO per-query
    // entries survived (the driver's r16 PERF comparison collapsed to
    // others_sum, n_common=1). Now `queries` comes FIRST with its own
    // dedicated budget; steady_medians takes whatever remains of the line
    // budget (slowest-first — the full map is still in line 1 and in
    // BENCH_SELF.json).
    val budget = 1900      // whole compact line; must fit the capture tail
    val qBudget = 900      // dedicated to `queries` entries, never starved
    val fixed = s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir","runs":$runs,"wall_sec":${"%.1f".format(wall)},"queries":{"""
    val bySlow = results.sortBy(-_._2)
    val kept = new scala.collection.mutable.ArrayBuffer[String]()
    var usedQ = 40 // reserve room for others_sum + closers
    var othersSum = 0.0
    bySlow.foreach { case (k, v) =>
      val ent = "\"" + k + "\":" + f2(v)
      if (usedQ + ent.length + 1 <= qBudget) { kept += ent; usedQ += ent.length + 1 }
      else othersSum += v
    }
    kept += "\"others_sum\":" + f2(othersSum)
    val queriesPart = kept.mkString(",")
    val steadyKept = new scala.collection.mutable.ArrayBuffer[String]()
    // queriesPart.length IS the bytes the queries map consumed (usedQ
    // merely tracked it against its own budget — adding both would
    // double-count and starve the steady map)
    var usedS = fixed.length + queriesPart.length + 40
    steady.sortBy(-_._2).foreach { case (k, v) =>
      val ent = "\"" + k + "\":" + f2(v)
      if (usedS + ent.length + 1 <= budget) { steadyKept += ent; usedS += ent.length + 1 }
    }
    val compact = fixed + queriesPart + "},\"steady_medians\":{" +
      steadyKept.mkString(",") + "}}"
    // Belt-and-braces: the harness reading stdout has repeatedly failed
    // to parse these lines out of its capped/prefixed capture window
    // (r9's artifact records parsed:null while the data sat in the
    // tail). Persist both JSON lines to a file too, so a machine-
    // readable record of every bench run exists independent of how the
    // stdout capture slices it. Overwritten per run; committed per
    // round alongside the driver's artifact.
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (full + "\n" + compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => }
    // stop() BEFORE the compact line: Spark's stop/shutdown logging all
    // lands above it, so the guaranteed-parseable line is the LAST thing
    // this JVM writes — a tail-capturing harness sees it complete at
    // column 0 (run/outputStrategy forwards forked stdout raw) whether
    // it captures stdout alone or both streams merged.
    // Logging OFF first: teardown noise isn't only thrown on THIS
    // thread — a state-store maintenance tick racing stop() asks the
    // StateStoreCoordinator over an already-stopped RpcEnv and ERROR-
    // logs a full Netty stack from ITS thread (the r14 bench artifact
    // shipped one in its tail); no try/catch here can reach that, but
    // nothing after this point is diagnostic, so drop the log level.
    spark.sparkContext.setLogLevel("OFF")
    // a throwing stop() (shutdown-hook/FS-close noise after streaming
    // sessions) must not suppress the one line the harness depends on
    try spark.stop() catch { case _: Throwable => }
    println(compact)
  }
}
