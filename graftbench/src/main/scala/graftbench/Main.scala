package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

/** Entry point: one workload, one seed, one fresh JVM.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --results DIR [--launch-ms EPOCH_MS] [--quick 1]
  *
  * `--quick 1` sets up once, warms up with one chunk and measures one
  * unit: a short run that loads the classes a full run uses.
  * Prints the run's details as one JSON line, then the result line
  * {"correct", "attempted", "failed", "metrics"} last.
  */
object Main {

  /** (name, unit) of every end-to-end metric, printed by untraced runs. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "success_ratio" -> "ratio", "work_per_s" -> "1/s",
    "op_s_p50" -> "s", "op_s_tail" -> "s", "probe_s_p50" -> "s", "probe_s_tail" -> "s",
    "cpu_s_per_op" -> "s", "live_heap_mb" -> "MB", "stored_bytes_per_input_byte" -> "ratio")

  /** (name, unit) of every per-layer metric, printed by traced runs. A
    * layer the workload never calls reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "warc.gunzip_mb_per_s" -> "MB/s", "warc.parse_records_per_s" -> "1/s",
    "warc.http_parse_records_per_s" -> "1/s", "warc.range_read_ms_p50" -> "ms",
    "ops.html_text_records_per_s" -> "1/s", "ops.links_records_per_s" -> "1/s",
    "ops.tokenize_records_per_s" -> "1/s",
    "jobs.documents_s_p50" -> "s", "jobs.word_count_s_p50" -> "s",
    "jobs.server_count_s_p50" -> "s", "jobs.host_links_s_p50" -> "s",
    "sources.plan_ms_p50" -> "ms", "sources.coords_ms_p50" -> "ms",
    "sources.rows_examined_per_row_returned" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.driver_only_s_per_op" -> "s",
    "spark.codegen_compiles_per_op" -> "count", "spark.codegen_compile_ms_per_op" -> "ms",
    "spark.executor_run_s_per_op" -> "s", "spark.executor_cpu_s_per_op" -> "s",
    "spark.gc_s_per_op" -> "s", "spark.input_mb_per_op" -> "MB",
    "spark.shuffle_write_mb_per_op" -> "MB", "spark.spill_mb_per_op" -> "MB",
    "spark.output_mb_per_op" -> "MB",
    "dedup.probe_append_s_p50" -> "s", "dedup.compact_s_p50" -> "s",
    "dedup.hits_per_batch" -> "count",
    "text.append_s_p50" -> "s", "text.probe_s_p50" -> "s", "text.compact_s_p50" -> "s",
    "util.manifest_read_ms_p50" -> "ms", "util.index_files" -> "count",
    "util.index_mb" -> "MB", "util.write_bytes_per_input_byte" -> "ratio",
    "util.generations" -> "count",
    "host.steal_ratio" -> "ratio", "host.iowait_ratio" -> "ratio",
    "trace.overhead_ratio" -> "ratio",
    "attrib.warc_ops_share_of_executor_cpu" -> "ratio",
    "attrib.driver_sources_share_of_lookup" -> "ratio")

  /** Per workload: sizes, warm-up chunks and set-up repetitions. The
    * counts are what fits a run into the benchmark's time budget; each
    * chunk's median is logged and kept in the details, so a run whose
    * ops were still getting faster shows it.
    */
  def workload(name: String, run: Run): (Workload, Int, Int) = name match {
    case "crawl_scan" =>
      (new CrawlScan(run, Corpus.Spec(hosts = 40, minPages = 60, maxPages = 100, files = 16),
        lookupsPerPass = 5), 3, 3)
    case "index_maintain" =>
      (new IndexMaintain(run, Corpus.Spec(hosts = 40, minPages = 60, maxPages = 100, files = 1),
        seedDocs = 1000, batchDocs = 250, batches = 2, compactEvery = 2, probesPerBatch = 1),
        1, 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = graft.util.Sessions.local("4", s"graftbench-${args.workload}")
    val startupS = (System.currentTimeMillis() - args.launchMs) / 1e3
    val run = new Run(spark, args)
    val (w, warmChunks, setupReps) = {
      val (w, chunks, reps) = workload(args.workload, run)
      if (args.quick) (w, 1, 1) else (w, chunks, reps)
    }

    val setupS = (1 to setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      val s = (System.nanoTime() - t0) / 1e9
      Run.log(f"setup $rep: $s%.2f s")
      s
    }
    val warmT0 = System.nanoTime()
    val warmMedians = (1 to warmChunks).map { i =>
      val m = Stats.median(w.warmChunk())
      Run.log(f"warm-up chunk $i: median $m%.3f s")
      m
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9

    // measured phase: whole units until the run's length has passed; a
    // traced run alternates untraced and traced units
    if (args.trace) run.acct.attach()
    run.measuring = true
    val window = new Host.Window
    val t0 = System.nanoTime()
    val unitS = ArrayBuffer.empty[Double]
    val minUnits = if (args.trace) 2 else 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    w.startMeasure()
    while (unitS.length < minUnits || elapsed < args.seconds) {
      run.traced = args.trace && unitS.length % 2 == 1
      run.tracer.on = run.traced
      val u0 = System.nanoTime()
      w.unit()
      unitS += (System.nanoTime() - u0) / 1e9
      Run.log(f"unit ${unitS.length}: ${unitS.last}%.2f s")
    }
    run.traced = false
    run.tracer.on = false
    val noise = window.stop()
    run.measuring = false
    if (args.trace) run.acct.detach()

    Run.log("measured phase done")
    val heapMb = Host.liveHeapMb()
    val stored = w.storedBytesPerInputByte

    val ops = run.stepsOf("op", traced = false)
    val probes = run.stepsOf("probe", traced = false)
    val untraced = run.samples.filterNot(_.traced)
    val opTail = Stats.tailOrMax(ops.map(_.seconds))
    val probeTail = Stats.tailOrMax(probes.map(_.seconds))
    val attempted = run.samples.length
    val failed = run.samples.count(!_.ok)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> (startupS + Stats.median(setupS)),
      "success_ratio" -> (attempted - failed).toDouble / math.max(1, attempted),
      "work_per_s" -> run.work / run.workWallS,
      "op_s_p50" -> Stats.median(ops.map(_.seconds)),
      "op_s_tail" -> opTail.value,
      "probe_s_p50" -> Stats.median(probes.map(_.seconds)),
      "probe_s_tail" -> probeTail.value,
      "cpu_s_per_op" -> untraced.map(_.cpuS).sum / ops.length,
      "live_heap_mb" -> heapMb,
      "stored_bytes_per_input_byte" -> stored)

    val layer: Map[String, Double] =
      if (!args.trace) Map.empty
      else {
        val a = run.acct
        val tracedOps = run.stepsOf("op", traced = true)
        Map(
          "spark.jobs_per_op" -> a.perOp("op", "jobs"),
          "spark.stages_per_op" -> a.perOp("op", "stages"),
          "spark.tasks_per_op" -> a.perOp("op", "tasks"),
          "spark.driver_only_s_per_op" -> a.perOp("op", "driver_only_s"),
          "spark.codegen_compiles_per_op" -> a.perOp("op", "codegen_compiles"),
          "spark.codegen_compile_ms_per_op" -> a.perOp("op", "codegen_ms"),
          "spark.executor_run_s_per_op" -> a.perOp("op", "run_ms") / 1e3,
          "spark.executor_cpu_s_per_op" -> a.perOp("op", "cpu_ns") / 1e9,
          "spark.gc_s_per_op" -> a.perOp("op", "gc_s"),
          "spark.input_mb_per_op" -> a.perOp("op", "input_bytes") / 1e6,
          "spark.shuffle_write_mb_per_op" -> a.perOp("op", "shuffle_write") / 1e6,
          "spark.spill_mb_per_op" -> a.perOp("op", "spill") / 1e6,
          "spark.output_mb_per_op" -> a.perOp("op", "output_bytes") / 1e6,
          "host.steal_ratio" -> noise.stealRatio,
          "host.iowait_ratio" -> noise.iowaitRatio,
          "trace.overhead_ratio" -> (Stats.median(tracedOps.map(_.seconds)) / e2e("op_s_p50") - 1)
        ) ++ w.layerMetrics()
      }

    val (names, values) =
      if (args.trace) (PerLayer, PerLayer.map { case (n, _) => n -> layer.getOrElse(n, 0.0) }.toMap)
      else (EndToEnd, e2e)
    val metrics = scala.collection.immutable.ListMap(names.map { case (n, u) =>
      n -> scala.collection.immutable.ListMap("value" -> values(n), "unit" -> u)
    }: _*)

    val details = scala.collection.immutable.ListMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace,
      "inputs" -> w.inputs,
      "startup_s" -> startupS, "setup_reps_s" -> setupS, "warmup_s" -> warmS,
      "warmup_chunk_medians_s" -> warmMedians, "units" -> unitS.length,
      "units_s" -> unitS,
      "ops" -> ops.length, "probes" -> probes.length,
      "op_tail" -> Map("percentile" -> opTail.level, "n" -> opTail.n, "beyond" -> opTail.beyond),
      "probe_tail" -> Map("percentile" -> probeTail.level, "n" -> probeTail.n,
        "beyond" -> probeTail.beyond),
      "end_to_end" -> e2e,
      "noise" -> noise.record,
      "failures" -> run.failures,
      "jvm_flags" -> {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens"))
      },
      "spark_conf" -> spark.sparkContext.getConf.getAll.sortBy(_._1)
        .filterNot(_._1.matches("spark\\.(app\\.(id|startTime)|driver\\.(host|port))"))
        .toMap,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)

    Files.createDirectories(args.results)
    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}" +
      (if (args.quick) "-quick" else "")
    Files.write(args.results.resolve(s"$tag.json"), Json(details).getBytes(UTF_8))
    if (args.trace) {
      val self = run.tracer.selfTimeByLayer
      val nOps = math.max(1, run.stepsOf("op", traced = true).length)
      Files.write(args.results.resolve(s"$tag.trace.json"), Json(
        scala.collection.immutable.ListMap(
          "layer_self_s_per_op" -> self.map { case (l, s) => l -> s / nOps },
          "per_layer" -> metrics,
          "end_to_end_untraced" -> e2e,
          "spans" -> run.tracer.all.map(s => scala.collection.immutable.ListMap(
            "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
            "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      ).getBytes(UTF_8))
    }
    spark.stop()
    Run.log("session stopped")

    println(Json(Map("details" -> details)))
    println(Json(scala.collection.immutable.ListMap(
      "correct" -> (failed == 0 && run.failures.isEmpty),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
  }
}
