package graft.jobs

import graft.sources.CoordinateSource
import graft.util.Sessions
import graft.warc.WarcSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parsed CLI surface — the argparse layer of the reference
  * (sparkcc.py:194-258 common flags, 479-487 + 547-585 index-job flags).
  */
final case class JobCli(
    job: String, input: String, output: String,
    inParts: Int = 8, outParts: Int = 2,
    outputFormat: String = "parquet", outputCompression: String = "gzip",
    outputOptions: Map[String, String] = Map.empty,
    query: Option[String] = None,
    table: String = "ccindex",
    tableSchema: Option[String] = None,
    inputTableFormat: Option[String] = None,
    inputTableOptions: Map[String, String] = Map.empty,
    inputBaseUrl: Option[String] = None,
    saveAsText: Option[String] = None,
    normalizeHostNames: Boolean = false,
    validateHostNames: Boolean = false,
    vertexPartitions: Int = 1,
    vertexIds: Option[String] = None,
    addInputs: Seq[String] = Nil,
    localTempDir: Option[String] = None,
    logLevel: Option[String] = None,
    sparkProfiler: Boolean = false,
    streamMode: String = "complete",
    outputBucketBy: Option[(Int, String)] = None,
    outputShards: Option[Int] = None,
    badwords: Seq[String] = Nil,
    minEntropy: Option[Double] = None,
    batchId: Option[String] = None,
    maxDupFrac: Option[Double] = None,
    mainContent: Boolean = false,
    topK: Int = 20,
    asOfGeneration: Option[Long] = None) {

  /** `--output_option vacuum_keep=K` on the compaction verbs: run the
    * manifest vacuum inline after the fold, retaining the newest K
    * generations — one verb on a cadence keeps both the tier shape and
    * the garbage bounded (no separate index_vacuum orchestration).
    */
  def vacuumKeep: Option[Int] = outputOptions.get("vacuum_keep").map(_.toInt)

  def jobConfig: JobConfig = JobConfig(input, output, inParts, outParts,
    outputFormat, outputCompression, outputOptions, outputBucketBy)
}

object JobCli {

  val usage: String =
    """usage: JobRunner <job> <input> <output> [inParts] [outParts]
      |  [--num_input_partitions N] [--num_output_partitions N]
      |  [--output_format parquet|orc|json|csv] [--output_compression CODEC]
      |  [--output_option k=v]... [--query SQL] [--table NAME]
      |  [--table_schema FILE.json] [--input_table_format FORMAT]
      |  [--input_table_option k=v]... [--input_base_url URL]
      |  [--local_temp_dir DIR] [--log_level LEVEL] [--spark_profiler]
      |  [--stream_mode complete|append] (stream_windows)
      |  [--output_bucket_by col=N] (table outputs: bucketed+sorted write)
      |  [--output_shards N] (curate: write kept corpus as N mixed shards)
      |  [--badwords w1,w2,...] [--min_entropy X] [--max_dup_frac X]
      |    (curate: extra filters)
      |  [--top_k K] (heavy_hitters)
      |  [--output_option target_mb=N] (compact: target file size)
      |  [--output_option zorder=colA,colB] (compact: z-cluster files)
      |  host_graph flags: [--save_as_text DIR] [--normalize_host_names]
      |  [--validate_host_names] [--vertex_partitions N]
      |  [--vertex_ids PATH] [--add_input PATH]...
      |  job ∈ server_count | html_tag_count | server_ip | word_count |
      |        sitemaps | anchor_text_corpus | extract_host_links | host_graph |
      |        wet_extract |
      |        stream_windows | warc_stream (landing-dir ingest, resumes;
      |          --table documents [--main_content]: streaming warc_to_documents) |
      |        md5sum | warc_to_parquet | index_build |
      |        index_export | index_word_count |
      |        warc_to_documents (--main_content: boilerplate removal) | curate |
      |        dedup_index_build | dedup_index_probe
      |          ([--as_of_generation N: near-probe a retained snapshot]) |
      |        dedup_index_update
      |          (--add_input INDEX_DIR [--batch_id TOKEN: retry-idempotent]) |
      |        dedup_index_compact (input = INDEX_DIR: fold deltas, re-layout;
      |          [--output_option vacuum_keep=K: inline generation GC]) |
      |        bm25_index_build | bm25_index_probe (--query t1,t2
      |          [--as_of_generation N: probe a retained manifest snapshot]) |
      |        bm25_index_merge (--add_input INDEX_DIR: append-only delta fold) |
      |        bm25_index_compact (input = INDEX_DIR: fold postings deltas;
      |          [--output_option vacuum_keep=K: inline generation GC]) |
      |        scd2_build | scd2_merge (--add_input DIM_DIR) |
      |        asof (native point-in-time join over events) |
      |        crawl_diff (--add_input SNAPSHOT_B)
      |        decontam (--add_input EVAL_DOCS)
      |        ann_index_build / ann_index_probe ([--as_of_generation N:
      |           probe a retained manifest snapshot]) / ann_index_update
      |          (--add_input INDEX_DIR [--batch_id TOKEN: retry-idempotent,
      |           default = digest of input path + its file listing]) |
      |        ann_index_compact (input = INDEX_DIR: tiered tail fold;
      |          [--output_option vacuum_keep=K: inline generation GC]) |
      |        index_vacuum (input = INDEX_DIR: GC superseded
      |                generations; --output_option keep=K
      |                grace_minutes=M) |
      |        datacard | heavy_hitters (--top_k K) | chunk | funnel | dq |
      |        compact (--output_option target_mb=N
      |                 --output_option zorder=colA,colB: Morton-clustered
      |                 rewrite for two-key min/max file skipping) |
      |        vacuum (--output_option keep=K: retain newest K versions
      |                of a root/vN versioned table, delete the rest) |
      |        sample (--output_option id=col [weight=col] [group=col]
      |                [k=N]: exact weighted sampling w/o replacement) |
      |        pca (--top_k K: components kept) |
      |        image_dedup (input: (media_id, payload) parquet;
      |                writes pairs/, outputs the cluster summary)""".stripMargin

  private def kv(s: String): (String, String) = s.split("=", 2) match {
    case Array(k, v) => (k, v)
    case _ => sys.error(s"expected k=v, got: $s")
  }

  def parse(args: Array[String]): JobCli = {
    require(args.length >= 3, usage)
    var cli = JobCli(args(0), args(1), args(2))
    var i = 3
    // positional [inParts] [outParts] back-compat before any flag
    if (i < args.length && !args(i).startsWith("--")) {
      cli = cli.copy(inParts = args(i).toInt); i += 1
      if (i < args.length && !args(i).startsWith("--")) {
        cli = cli.copy(outParts = args(i).toInt); i += 1
      }
    }
    while (i < args.length) {
      val flag = args(i)
      def value: String = {
        require(i + 1 < args.length, s"$flag needs a value\n$usage"); i += 1; args(i)
      }
      flag match {
        case "--num_input_partitions"  => cli = cli.copy(inParts = value.toInt)
        case "--num_output_partitions" => cli = cli.copy(outParts = value.toInt)
        case "--output_format"         => cli = cli.copy(outputFormat = value)
        case "--output_compression"    => cli = cli.copy(outputCompression = value)
        case "--output_option" =>
          cli = cli.copy(outputOptions = cli.outputOptions + kv(value))
        case "--query"                 => cli = cli.copy(query = Some(value))
        case "--table"                 => cli = cli.copy(table = value)
        case "--table_schema"          => cli = cli.copy(tableSchema = Some(value))
        case "--input_table_format"    => cli = cli.copy(inputTableFormat = Some(value))
        case "--input_table_option" =>
          cli = cli.copy(inputTableOptions = cli.inputTableOptions + kv(value))
        case "--input_base_url"        => cli = cli.copy(inputBaseUrl = Some(value))
        case "--save_as_text"          => cli = cli.copy(saveAsText = Some(value))
        case "--normalize_host_names"  => cli = cli.copy(normalizeHostNames = true)
        case "--validate_host_names"   => cli = cli.copy(validateHostNames = true)
        case "--vertex_partitions"     => cli = cli.copy(vertexPartitions = value.toInt)
        case "--vertex_ids"            => cli = cli.copy(vertexIds = Some(value))
        case "--add_input"             => cli = cli.copy(addInputs = cli.addInputs :+ value)
        // sparkcc.py:74-112 conveniences
        case "--local_temp_dir"        => cli = cli.copy(localTempDir = Some(value))
        case "--output_bucket_by" =>
          // col=N: bucket (and sort) the table output by col into N buckets
          val (c, n) = kv(value)
          cli = cli.copy(outputBucketBy = Some((n.toInt, c)))
        case "--output_shards" => cli = cli.copy(outputShards = Some(value.toInt))
        // normalized at parse time: the token stream the filter compares
        // against is always lowercase, so a mixed-case blocklist entry
        // would otherwise silently match nothing (mirrors --query)
        case "--badwords" => cli = cli.copy(badwords =
          value.split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty))
        case "--min_entropy"   => cli = cli.copy(minEntropy = Some(value.toDouble))
        case "--batch_id"      => cli = cli.copy(batchId = Some(value))
        case "--as_of_generation" =>
          cli = cli.copy(asOfGeneration = Some(value.toLong))
        case "--max_dup_frac"  => cli = cli.copy(maxDupFrac = Some(value.toDouble))
        case "--main_content"  => cli = cli.copy(mainContent = true)
        case "--top_k"         => cli = cli.copy(topK = value.toInt)
        case "--stream_mode" =>
          val m = value
          require(m == "complete" || m == "append",
            s"--stream_mode must be complete|append, got: $m")
          cli = cli.copy(streamMode = m)
        case "--log_level"             => cli = cli.copy(logLevel = Some(value))
        case "--spark_profiler"        => cli = cli.copy(sparkProfiler = true)
        case "--csv" =>
          // deprecated reference alias (sparkcc.py:560-570): CSV coordinate
          // table with header+inferSchema, read from the given path
          cli = cli.copy(input = value, inputTableFormat = Some("csv"),
            inputTableOptions = cli.inputTableOptions +
              ("header" -> "true", "inferSchema" -> "true"))
        case other => sys.error(s"unknown flag: $other\n$usage")
      }
      i += 1
    }
    cli
  }
}

/** CLI entry point for the analytics jobs — the `python server_count.py
  * <manifest> <output>` analogue of the reference (sparkcc.py:64-120).
  *
  * `output` may be a path (written with save()) or a bare table name
  * (saveAsTable into spark.sql.warehouse.dir — the reference's default,
  * so jobs chain by table name). Format/compression/options follow
  * sparkcc.py:219-225 incl. the orc→zlib fixup.
  */
/** Per-stage metrics collector behind `--spark_profiler`: run time, GC,
  * shuffle bytes, spill — the signals a skew/shuffle diagnosis needs.
  */
final class StageProfiler extends org.apache.spark.scheduler.SparkListener {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def onStageCompleted(
      sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    lines.add(f"[profile] stage=${i.stageId}%-4d tasks=${i.numTasks}%-4d " +
      f"run=${m.executorRunTime}ms gc=${m.jvmGCTime}ms " +
      f"shufRead=${m.shuffleReadMetrics.totalBytesRead}B " +
      f"shufWrite=${m.shuffleWriteMetrics.bytesWritten}B " +
      f"spill=${m.memoryBytesSpilled}/${m.diskBytesSpilled}B " +
      i.name.takeWhile(_ != '\n').take(80))
  }
  def report(): Unit = lines.forEach(l => println(l))
}

object JobRunner {

  /** Default batch id for index-update verbs: a digest of the input
    * path PLUS its file listing (each file's relative name, length,
    * mtime), so RE-RUNNING the same command over unchanged input (the
    * crashed-orchestrator retry) hits the index's committed/ token and
    * no-ops instead of double-appending — while a staging path that
    * was REWRITTEN with a new day's content digests differently and
    * ingests normally. A path-only digest had the second case silently
    * no-op forever (the common reuse-one-staging-dir orchestrator
    * pattern would ingest exactly once and then drop every later day
    * with a green exit code). Deterministic across JVMs (SHA-1, not
    * String.hashCode-family).
    */
  private def inputDigestBatchId(spark: org.apache.spark.sql.SparkSession,
                                 input: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    def feed(s: String): Unit =
      { md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); () }
    feed(input)
    val root = new org.apache.hadoop.fs.Path(input)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(root)) {
      // qualified root so relativize matches the listing's URIs
      val rootUri = fsys.makeQualified(root).toUri
      graft.util.ParquetFooters.listRecursive(fsys, root).map { st =>
        // the path RELATIVE to the input root, not the basename: a
        // part file moved between partition subdirs, or same-named
        // same-sized files in swapped subdirs, must change the digest
        // — basenames alone let a genuinely changed staging input
        // silently no-op as an already-committed batch
        val rel = rootUri.relativize(st.getPath.toUri).toString
        s"$rel|${st.getLen}|${st.getModificationTime}"
      }.toVector.sorted.foreach(feed)
    }
    "add-" + md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** index coordinate selection: --query over the index view, or a
    * pre-extracted coordinate table via --input_table_format
    * (sparkcc.py:569-607).
    */
  private def loadCoords(spark: SparkSession, cli: JobCli): DataFrame =
    cli.inputTableFormat match {
      case Some(fmt) =>
        CoordinateSource.fromTable(spark, cli.input, fmt, cli.inputTableOptions)
      case None =>
        val sql = cli.query.getOrElse(
          """SELECT url, warc_filename, warc_record_offset, warc_record_length
            FROM ccindex WHERE warc_type = 'response'""")
        val schemaJson = cli.tableSchema.map { f =>
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
        }
        CoordinateSource.fromIndexQuery(spark, cli.input, sql, cli.table, schemaJson)
    }

  def run(spark: SparkSession, cli: JobCli): Unit = {
    cli.logLevel.foreach(spark.sparkContext.setLogLevel) // sparkcc.py:104-112
    // stage-metrics profile (the JVM analogue of --spark_profiler's
    // per-stage dump, sparkcc.py:74-81): collected while the job runs,
    // printed at the end
    val profiler = if (cli.sparkProfiler) Some(new StageProfiler) else None
    profiler.foreach(spark.sparkContext.addSparkListener)
    val counters = JobCounters(spark)
    val config = cli.jobConfig

    def records = WarcSource.fromManifest(spark, cli.input, cli.inParts,
      Some(counters.recordsFailed), cli.inputBaseUrl)

    // jobs that write their own multi-part output under $output (paths);
    // stream_windows self-writes only in its durable path-output mode
    val selfWriting = Set("host_graph", "wet_extract", "index_build", "curate",
      "dedup_index_build", "dedup_index_probe",
      "bm25_index_build", "bm25_index_probe", "crawl_diff", "decontam",
      "ann_index_build", "ann_index_probe", "compact", "pca",
      "image_dedup", "warc_stream") ++
      (if (cli.job == "stream_windows" && JobConfig.isPathOutput(cli.output))
        Set("stream_windows") else Set.empty)

    val df = cli.job match {
      case "server_count"   => ServerCountJob.aggregate(spark, records, counters)
      case "html_tag_count" => HtmlTagCountJob.aggregate(spark, records, counters)
      case "server_ip"      => ServerIpJob.aggregate(spark, records, counters)
      case "word_count"     => WordCountJob.aggregate(spark, records)
      case "sitemaps"       => SitemapsJob.aggregate(spark, records)
      case "anchor_text_corpus" => AnchorTextJob.aggregate(spark, records)
      case "extract_host_links" => ExtractHostLinksJob.edges(spark, records, Some(counters))
      case "host_graph" =>
        val edges = spark.read.parquet(cli.input)
        val g = HostGraphBuilder.build(spark, edges,
          vertexPartitions = cli.vertexPartitions,
          validateHosts = cli.validateHostNames,
          normalizeHosts = cli.normalizeHostNames,
          existingIds = cli.vertexIds.map(spark.read.parquet(_)),
          addInputs = cli.addInputs.map(spark.read.parquet(_)))
        cli.saveAsText.foreach(dir =>
          HostGraphBuilder.writeTextDumps(g, dir, cli.outParts))
        g.vertices.coalesce(cli.outParts).write.mode("overwrite")
          .parquet(s"${cli.output}/vertices")
        g.edges.coalesce(cli.outParts).write.mode("overwrite")
          .parquet(s"${cli.output}/edges")
        spark.read.parquet(s"${cli.output}/edges")
      case "md5sum" =>
        FileProcessorJob.md5sum(spark, cli.input, cli.inParts,
          failedAcc = Some(counters.recordsFailed), baseUrl = cli.inputBaseUrl,
          tempDir = cli.localTempDir)
      case "warc_to_documents" =>
        // WARC archives → the documents-table shape the curation suite
        // reads (doc_id, text, lang, source, n_chars): the bridge from
        // the reference's raw inputs to the LLM-pipeline operators, so
        // `warc_to_documents` output chains directly into `curate`.
        // doc_id = xxhash64(url) — deterministic and stable across
        // re-runs, so downstream dedup decisions are reproducible; lang
        // left to the lang-id operator downstream.
        {
          import org.apache.spark.sql.functions.{col, length, xxhash64}
          import spark.implicits._
          val processed = counters.recordsProcessed
          records.flatMap { case (path, rec) =>
            for {
              url <- rec.targetUri
              text <- graft.ops.Extractors.htmlToText(rec,
                mainOnly = cli.mainContent)
              t = text.trim if t.nonEmpty
            } yield {
              processed.add(1)
              (url, t, path.substring(path.lastIndexOf('/') + 1))
            }
          }.toDF("url", "text", "source")
            .select(xxhash64(col("url")).as("doc_id"), col("text"),
              org.apache.spark.sql.functions.lit("").as("lang"),
              col("source"), length(col("text")).cast("long").as("n_chars"))
        }
      case "dedup_index_build" =>
        // persisted dedup indexes for cross-crawl incremental dedup:
        // both the MinHash index (approximate near-dup, band-partitioned
        // signatures) and the exact digest index (chunk digests + Bloom
        // prefilter sidecar) are built in one pass over a documents
        // parquet dir, so the next crawl probes THIS one without ever
        // re-reading its text
        {
          val docs = spark.read.parquet(cli.input)
          graft.dedup.Dedup.saveMinHashIndex(docs, s"${cli.output}/minhash")
          graft.dedup.BloomDedup.saveDigestIndex(docs, s"${cli.output}/exact")
          spark.read.parquet(s"${cli.output}/exact/digests")
        }
      case "dedup_index_probe" =>
        // input = the NEW batch (documents parquet); --add_input = the
        // index dir from dedup_index_build. Writes exact/ (chunk-level
        // exact dups via the Bloom-prefiltered digest probe) and near/
        // (MinHash signature-agreement near-dups); returns the exact set
        {
          require(cli.addInputs.nonEmpty,
            "dedup_index_probe needs --add_input <index_dir>")
          val idx = cli.addInputs.head
          val newDocs = spark.read.parquet(cli.input)
          val exact = graft.dedup.BloomDedup
            .dedupAgainstDigestIndex(newDocs, s"$idx/exact")
          exact.repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/exact")
          // --as_of_generation N probes a retained historical snapshot of
          // the near-dup index
          graft.dedup.Dedup.dedupAgainstMinHashIndex(newDocs, s"$idx/minhash",
              asOfGen = cli.asOfGeneration)
            .repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/near")
          spark.read.parquet(s"${cli.output}/exact")
        }
      case "bm25_index_build" =>
        // persisted inverted text index (postings/terms/stats, term-hash
        // bucketed — text/InvertedIndex.scala): build once over a
        // documents parquet dir, probe many times without the corpus
        {
          graft.text.InvertedIndex.save(spark.read.parquet(cli.input), cli.output)
          graft.text.InvertedIndex.readStats(spark, cli.output)
        }
      case "bm25_index_probe" =>
        // input = index dir from bm25_index_build; --query term1,term2
        // (comma-separated, lowercased); writes BM25 top-10 per term
        {
          val terms = cli.query.getOrElse(
            sys.error("bm25_index_probe needs --query term1,term2"))
            .split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty)
          require(terms.nonEmpty, "bm25_index_probe needs at least one term")
          graft.text.InvertedIndex.probe(spark, cli.input, terms,
              asOfGen = cli.asOfGeneration)
            .coalesce(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/topk")
          spark.read.parquet(s"${cli.output}/topk")
        }
      case "dedup_index_update" =>
        // input = NEW batch (documents parquet); --add_input = index dir
        // from dedup_index_build. Folds the batch's MinHash signatures
        // into the band-partitioned index (delta part-files, dominant
        // bytes never rewritten) — dedup's counterpart of
        // ann_index_update; the marker guard refuses a hash-family or
        // parameter mismatch before any write. Typical cadence: probe
        // (dedup_index_probe), drop the hits, then update with the kept.
        // --batch_id <token> makes a re-driven update a no-op (the
        // manifest's committed batch ids) — pass one from any retrying
        // orchestrator.
        {
          require(cli.addInputs.nonEmpty,
            "dedup_index_update needs --add_input <index_dir>")
          graft.dedup.Dedup.appendMinHashIndex(
            spark.read.parquet(cli.input), s"${cli.addInputs.head}/minhash",
            batchId = cli.batchId)
          graft.dedup.Dedup.indexBandCounts(spark, s"${cli.addInputs.head}/minhash")
        }
      case "index_vacuum" =>
        // input = an index dir (any of the three families).
        // Garbage-collects data dirs no retained manifest references
        // and manifests older than the keep window. --output_option
        // keep=K (default 2) sizes the window to the longest-running
        // reader (snapshot isolation);
        // --output_option grace_minutes=M (default 60) protects a live
        // writer's laid-but-unpublished dirs.
        {
          val conf = spark.sessionState.newHadoopConf()
          graft.util.ManifestCommit.requireIndex(conf, cli.input, "index_vacuum")
          val keep = cli.outputOptions.get("keep").map(_.toInt).getOrElse(2)
          val graceMs = cli.outputOptions.get("grace_minutes").map(_.toLong)
            .getOrElse(60L) * 60 * 1000
          graft.util.ManifestCommit.vacuum(conf, cli.input, keep, graceMs)
          val m = graft.util.ManifestCommit.current(conf, cli.input)
          import spark.implicits._
          m.tables.toSeq.sortBy(_._1)
            .map { case (t, dirs) => (t, dirs.size.toLong, m.rows(t)) }
            .toDF("table", "n_dirs", "n_rows")
        }
      case "dedup_index_compact" =>
        // input = index dir from dedup_index_build. Folds the
        // append-only minhash band and signature tails into sorted runs
        // or the base — the maintenance arm that keeps a 24/7 update cadence from
        // rotting the index into a small-files scan. Probe results are
        // identical before/after (one manifest publish per fold).
        // --output_option vacuum_keep=K additionally GCs superseded
        // generations inline (see JobCli.vacuumKeep).
        {
          graft.dedup.Dedup.compactMinHashIndex(spark,
            s"${cli.input}/minhash", vacuumKeep = cli.vacuumKeep)
          graft.dedup.Dedup.indexBandCounts(spark, s"${cli.input}/minhash")
        }
      case "bm25_index_compact" =>
        // input = index dir from bm25_index_build. Folds the per-merge
        // postings and stats tails into sorted runs or the base (stats
        // re-summed); probe results identical, row-group term pruning
        // restored.
        // --output_option vacuum_keep=K GCs superseded generations
        // inline (see JobCli.vacuumKeep).
        {
          graft.text.InvertedIndex.compact(spark, cli.input,
            vacuumKeep = cli.vacuumKeep)
          graft.text.InvertedIndex.readStats(spark, cli.input)
        }
      case "bm25_index_merge" =>
        // input = DELTA documents parquet dir; --add_input = index dir
        // from bm25_index_build. Folds the delta in WITHOUT re-reading
        // the indexed corpus: one tail dir each for postings, df and
        // stats (text/InvertedIndex.appendDelta) — the per-crawl
        // index-maintenance path, bm25's counterpart of ann_index_update.
        // Batch id defaults to a digest of the input path + file
        // listing, so a re-run of the same command over unchanged
        // input is a no-op, never a double-fold; pass --batch_id to
        // name batches explicitly.
        {
          require(cli.addInputs.nonEmpty,
            "bm25_index_merge needs --add_input <index_dir>")
          graft.text.InvertedIndex.appendDelta(
            spark.read.parquet(cli.input), cli.addInputs.head,
            batchId = Some(cli.batchId.getOrElse(inputDigestBatchId(spark, cli.input))))
          // a manifest index has no physical stats/ dir
          graft.text.InvertedIndex.readStats(spark, cli.addInputs.head)
        }
      case "scd2_build" =>
        // input = events parquet; writes the type-2 slowly-changing
        // dimension (user_id, value, valid_from_us, valid_to_us) —
        // point-in-time lookups then become plain interval joins
        graft.operators.Relational.scd2(spark.read.parquet(cli.input))
      case "scd2_merge" =>
        // input = DELTA events parquet; --add_input = existing dimension
        // dir from scd2_build. Copy-on-write by user: only users with
        // delta purchases rebuild, everyone else passes through — and
        // the result is exactly a full rebuild (src_event_id lineage
        // carries the equal-timestamp tiebreak)
        {
          require(cli.addInputs.nonEmpty,
            "scd2_merge needs --add_input <dimension_dir>")
          graft.operators.Relational.scd2Merge(
            spark.read.parquet(cli.addInputs.head),
            spark.read.parquet(cli.input))
        }
      case "asof" =>
        // input = events parquet; writes clicks enriched with the same
        // user's latest purchase value at-or-before each click, via the
        // native AsOfJoin operator (plans/AsOfJoinExec.scala)
        graft.operators.AsOfJoinOps.enrichClicks(spark.read.parquet(cli.input))
      case "crawl_diff" =>
        // input = snapshot A, --add_input = snapshot B (documents parquet
        // dirs): writes per-doc status/ plus the per-source summary/
        {
          require(cli.addInputs.nonEmpty, "crawl_diff needs --add_input <snapshot_b>")
          val d = graft.operators.Curation.snapshotDiff(
            spark.read.parquet(cli.input),
            spark.read.parquet(cli.addInputs.head))
          d.repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/status")
          import org.apache.spark.sql.functions.{col, count, lit}
          // summarize the status parquet just written, not the diff plan:
          // re-evaluating d here would re-run both snapshot scans and the
          // full-outer join a second time
          spark.read.parquet(s"${cli.output}/status")
            .groupBy(col("source"), col("status"))
            .agg(count(lit(1)).as("n"))
            .coalesce(1).write.mode("overwrite").parquet(s"${cli.output}/summary")
          spark.read.parquet(s"${cli.output}/summary")
        }
      case "curate" =>
        // batch entry for the curation pipeline (quality → exact dedup →
        // decontamination): writes the CURATED CORPUS — kept docs joined
        // back to their full rows — plus the per-source accounting table.
        // Input = a documents parquet dir; the flags frame is one plan,
        // so the join back is the only extra pass over the base table.
        val docs = spark.read.parquet(cli.input)
        val kept = graft.operators.Pipeline.outcomeFlags(docs)
          .filter(org.apache.spark.sql.functions.col("kept"))
          .select("doc_id")
        // optional post-pipeline filters, reusing the registered
        // operators' expressions: --badwords w1,w2 (C4 word blocklist,
        // scan-stage predicate) and --min_entropy X (token-entropy
        // gibberish gate, one keyed agg over the kept docs only)
        val keptDocs = docs.join(kept, Seq("doc_id"), "left_semi")
        val afterBad =
          if (cli.badwords.isEmpty) keptDocs
          else {
            import org.apache.spark.sql.functions.{arrays_overlap, col, lit, not}
            keptDocs.filter(not(arrays_overlap(
              graft.functions.GraftFunctions.tokens(col("text")),
              lit(cli.badwords.toArray))))
          }
        val afterEntropy = cli.minEntropy match {
          case None => afterBad
          case Some(minH) =>
            import org.apache.spark.sql.functions.col
            afterBad.join(
              graft.operators.TextOps.docEntropy(afterBad)
                .filter(col("entropy") >= minH).select("doc_id"),
              Seq("doc_id"), "left_semi")
        }
        // --max_dup_frac X: drop docs whose duplicated-substring mass
        // (Lee et al. shared-50-gram span coverage, dedup/Dedup.scala)
        // exceeds X — an ANTI join against the over-threshold set, so
        // docs too short to have 50-gram windows are kept, not judged
        val curated = cli.maxDupFrac match {
          case None => afterEntropy
          case Some(maxF) =>
            import org.apache.spark.sql.functions.col
            afterEntropy.join(
              graft.dedup.Dedup.substringDupMass(afterEntropy)
                .filter(col("dup_frac") > maxF).select("doc_id"),
              Seq("doc_id"), "left_anti")
        }
        curated
          .repartition(cli.outParts)
          .write.mode("overwrite").parquet(s"${cli.output}/kept")
        graft.operators.Pipeline.accounting(docs)
          .coalesce(1).write.mode("overwrite").parquet(s"${cli.output}/accounting")
        // --output_shards N: lay the kept corpus down as N deterministic
        // training shards in mix order (the curate→shuffle composition)
        cli.outputShards.foreach { n =>
          graft.operators.Curation.writeShuffledShards(
            spark.read.parquet(s"${cli.output}/kept"), s"${cli.output}/shards", n)
        }
        spark.read.parquet(s"${cli.output}/kept")
      case "ann_index_build" =>
        // persisted FAISS-style IVF-PQ index over an embeddings parquet
        // dir (vec_id, embedding): k-means cells at the sqrt-N rule of
        // thumb; cell-partitioned inverted lists of raw vectors (refine
        // store) AND of 4-bit PQ codes (what a 100 TB probe scans),
        // plus centroids and the M×Ks codebooks (vector/PqOps.scala)
        {
          val c = spark.read.parquet(cli.input)
          // one count serves the k rule of thumb AND both training
          // samples (threaded through nKnown — three full input scans
          // otherwise)
          val n = c.count()
          val k = math.min(256L, math.max(4L, math.round(math.sqrt(n.toDouble)))).toInt
          graft.vector.PqOps.savePqIndex(c, cli.output, k = k, iters = 2,
            nKnown = Some(n))
          graft.vector.VectorOps.loadIvfIndex(spark, cli.output).centroids
        }
      case "ann_index_update" =>
        // input = NEW embeddings batch; --add_input = index dir from
        // ann_index_build. Places the batch into the existing cells and
        // codebooks (two map stages, no retraining) and folds it into
        // the cell-partitioned stores' tails under the exactly-once
        // commit marker — the per-crawl ingest path. The batch id
        // defaults to a digest of the input path + its file listing:
        // re-running the same command over unchanged input (the
        // crashed-orchestrator retry) is a no-op instead of a silent
        // double-append, while a staging path REWRITTEN with new
        // content digests differently and ingests normally; pass
        // --batch_id to name batches explicitly.
        {
          require(cli.addInputs.nonEmpty,
            "ann_index_update needs --add_input <index_dir>")
          graft.vector.PqOps.addToPqIndex(
            spark.read.parquet(cli.input), cli.addInputs.head,
            batchId = Some(cli.batchId.getOrElse(inputDigestBatchId(spark, cli.input))))
          // protocol-aware centroid read (manifest indexes keep them
          // under data/centroids/d-*, named only by the manifest)
          graft.vector.VectorOps.loadIvfIndex(spark, cli.addInputs.head).centroids
        }
      case "ann_index_compact" =>
        // input = index dir from ann_index_build. Size-tiered fold of
        // the update-grown tails back into pruned cell= layout
        // (vector/IvfMaintenance) — probe results identical, per-cycle
        // IO follows the tail. Completes the ANN index's
        // build/probe/update/compact maintenance parity.
        // --output_option vacuum_keep=K GCs superseded generations
        // inline (see JobCli.vacuumKeep).
        {
          graft.vector.VectorOps.compactIvfIndex(spark, cli.input,
            vacuumKeep = cli.vacuumKeep)
          graft.vector.VectorOps.loadIvfIndex(spark, cli.input).centroids
        }
      case "ann_index_probe" =>
        // input = query vectors parquet (vec_id, embedding); --add_input
        // = index dir from ann_index_build. Writes topk/ — top-10 cosine
        // neighbors per query from the probed cells only; no k-means at
        // query time, no base-corpus access. If the index carries PQ
        // codes (ann_index_build writes them; a bare saveIvfIndex layout
        // does not) the candidate scan runs in the compressed domain
        // (ADC + exact refine), else flat exact search in probed cells.
        {
          require(cli.addInputs.nonEmpty,
            "ann_index_probe needs --add_input <index_dir>")
          import org.apache.spark.sql.functions.col
          val idxDir = cli.addInputs.head
          val q = spark.read.parquet(cli.input)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          // codes live under data/codes/d-* (no physical codes/ dir):
          // decide off the resolved snapshot (the AS-OF one when
          // pinned: a generation before the codes landed must probe
          // flat)
          val hasPq = {
            val conf = spark.sparkContext.hadoopConfiguration
            val m = cli.asOfGeneration
              .map(g => graft.util.ManifestCommit.atGeneration(conf, idxDir, g))
              .getOrElse(graft.util.ManifestCommit.current(conf, idxDir))
            m.entries("codes").nonEmpty || m.entries("codes.tail").nonEmpty
          }
          println(s"[graft] ann_index_probe mode=${if (hasPq) "pq" else "flat"}")
          val topk =
            if (hasPq) graft.vector.PqOps.annPqIndexed(
              q, graft.vector.PqOps.loadPqIndex(spark, idxDir,
                asOfGen = cli.asOfGeneration))
            else graft.vector.VectorOps.annIvfIndexed(
              q, graft.vector.VectorOps.loadIvfIndex(spark, idxDir,
                asOfGen = cli.asOfGeneration))
          topk.coalesce(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/topk")
          spark.read.parquet(s"${cli.output}/topk")
        }
      case "decontam" =>
        // input = training documents parquet; --add_input = the eval /
        // benchmark documents parquet. Runs BOTH published filters off
        // one shared tokenize pass (the persisted token-hash frame is
        // ~8 bytes/token — far smaller than the text it replaces):
        //   exact/ — per-doc 13-gram overlap (GPT-3 appendix-C recipe)
        //   near/  — per-doc max 5-gram-shingle Jaccard vs the eval set
        //   kept/  — training docs clean under both filters
        // kept/ derives from the exact/near parquet just written, not
        // from re-running the joins (the crawl_diff read-back pattern).
        {
          require(cli.addInputs.nonEmpty, "decontam needs --add_input <eval_docs>")
          import org.apache.spark.sql.functions.col
          val docs = spark.read.parquet(cli.input)
          val trainTh = graft.operators.Decontam.tokenHashes(docs).persist()
          val evalTh = graft.operators.Decontam
            .tokenHashes(spark.read.parquet(cli.addInputs.head)).persist()
          graft.operators.Decontam.decontaminateTh(trainTh, evalTh)
            .repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/exact")
          graft.operators.Decontam.decontaminateNearTh(trainTh, evalTh)
            .repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/near")
          trainTh.unpersist(); evalTh.unpersist()
          val flagged = spark.read.parquet(s"${cli.output}/exact")
            .filter(col("contaminated")).select("doc_id")
            .unionByName(spark.read.parquet(s"${cli.output}/near")
              .filter(col("contaminated")).select("doc_id"))
            .distinct()
          docs.join(flagged, Seq("doc_id"), "left_anti")
            .repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/kept")
          spark.read.parquet(s"${cli.output}/kept")
        }
      case "warc_to_parquet" =>
        // archives → columnar table via the DSv2 source (input = path/dir)
        spark.read.format("warc").load(cli.input)
      case "index_build" =>
        CCIndexWarcJob.buildIndexFromManifest(spark, cli.input,
          s"${cli.output}/indexed", s"${cli.output}/ccindex", cli.inParts)
        spark.read.parquet(s"${cli.output}/ccindex")
      case "index_export" =>
        // CCIndexSparkJob (sparkcc.py:525-535): SQL over the index,
        // result written as a table — the CTAS step whose output feeds
        // index_word_count via --input_table_format
        loadCoords(spark, cli).repartition(cli.outParts)
      case "index_word_count" =>
        CCIndexWarcJob.wordCountRecords(
          CCIndexWarcJob.fetchCoords(loadCoords(spark, cli), cli.inParts,
            Some(counters.recordsFailed)))
      case "wet_extract" =>
        val skipped = spark.sparkContext.longAccumulator("skipped_existing")
        val coords = WetExtractor.run(spark, cli.input, s"${cli.output}/wet",
          cli.inParts, Some(skipped))
        coords.coalesce(cli.outParts).write.mode("overwrite")
          .parquet(s"${cli.output}/coords")
        println(s"[graft] wet_extract skipped_existing=${skipped.value}")
        spark.read.parquet(s"${cli.output}/coords")
      case "stream_windows" =>
        val stream = graft.streaming.EventStream.readEvents(spark, cli.input)
        val agg = graft.streaming.EventStream.windowedCounts(stream)
        if (JobConfig.isPathOutput(cli.output)) {
          // durable mode: source offsets + aggregation state live in a
          // checkpoint under the output dir, so a restarted job RESUMES —
          // already-seen input files are never reprocessed. Two contracts:
          //
          // complete (default, drain-available-then-stop): foreachBatch
          // rewrites only the (small: one row per window×type) result
          // table per batch; every window is always visible, including
          // open ones, but the state store retains all windows forever —
          // right for a bounded drain, wrong for 24/7.
          //
          // append (--stream_mode append, the 24/7 contract): the native
          // parquet file sink appends each FINALIZED window exactly once
          // (the sink's _spark_metadata commit log makes re-runs
          // idempotent), and the watermark EVICTS finalized windows from
          // the state store — state is bounded by open windows only, so
          // the job can run forever. The tradeoff: windows newer than the
          // watermark are withheld until more data advances event time.
          val dataDir = s"${cli.output}/data"
          if (cli.streamMode == "append") {
            val q = agg.writeStream
              .outputMode("append")
              .format("parquet")
              .option("path", dataDir)
              .option("checkpointLocation", s"${cli.output}/_checkpoint")
              .start()
            q.processAllAvailable(); q.stop()
          } else {
            val q = agg.writeStream
              .outputMode("complete")
              .option("checkpointLocation", s"${cli.output}/_checkpoint")
              .foreachBatch { (batch: DataFrame, _: Long) =>
                batch.coalesce(cli.outParts).write.mode("overwrite").parquet(dataDir)
              }
              .start()
            q.processAllAvailable(); q.stop()
          }
          // append mode may legitimately have finalized nothing yet (all
          // event time still inside the watermark) — report that as an
          // empty result, not a read failure
          try spark.read.parquet(dataDir)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], agg.schema)
          }
        } else {
          // table-name output: memory sink + saveAsTable (oracle path)
          val q = agg.writeStream.format("memory").queryName("win")
            .outputMode("complete").start()
          q.processAllAvailable(); q.stop()
          spark.sql("SELECT * FROM win")
        }
      case "warc_stream" =>
        // 24/7 crawl landing: input = a directory where raw .warc(.gz)
        // archives keep arriving; each invocation streams every
        // NOT-YET-SEEN archive (the DSv2 micro-batch source's seen-files
        // offsets live in the checkpoint) and appends one row per record
        // to the bronze table — a re-run after new archives land resumes
        // exactly where the last one stopped, never reprocessing
        {
          import org.apache.spark.sql.functions.{col, length, lit, octet_length, xxhash64}
          import spark.implicits._
          val base = spark.readStream.format("warc").load(cli.input)
          // --table documents: the STREAMING form of warc_to_documents —
          // the landing dir flows straight into the curation suite's
          // table shape (html → text on the stream, same xxhash64 ids as
          // the batch bridge, --main_content honored); default emits the
          // per-record bronze rows
          val stream =
            if (cli.table == "documents")
              base.select(col("path"), col("headers"), col("payload"))
                .as[(String, Map[String, String], Array[Byte])]
                .flatMap { case (path, hdrs, payload) =>
                  val rec = graft.warc.WarcRecord(hdrs, payload)
                  for {
                    url <- rec.targetUri
                    text <- graft.ops.Extractors.htmlToText(rec,
                      mainOnly = cli.mainContent)
                    t = text.trim if t.nonEmpty
                  } yield (url, t, path.substring(path.lastIndexOf('/') + 1))
                }.toDF("url", "text", "source")
                .select(xxhash64(col("url")).as("doc_id"), col("text"),
                  lit("").as("lang"), col("source"),
                  length(col("text")).cast("long").as("n_chars"))
            else
              base.select(col("path"), col("warc_type"), col("target_uri"),
                col("warc_date"), octet_length(col("payload")).as("n_bytes"))
          val q = stream.writeStream.outputMode("append").format("parquet")
            .option("path", s"${cli.output}/data")
            .option("checkpointLocation", s"${cli.output}/_checkpoint")
            .start()
          q.processAllAvailable(); q.stop()
          spark.read.parquet(s"${cli.output}/data")
        }
      case "datacard" =>
        // input = documents parquet dir → the per-(lang, source) release
        // statistics sheet (corpus_datacard's expressions)
        graft.operators.TextOps.corpusDatacard(spark.read.parquet(cli.input))
      case "heavy_hitters" =>
        // input = documents parquet dir → exact top-k tokens via the
        // MG sketch-then-verify plan; --top_k K (default 20)
        graft.operators.HeavyHitters.topK(
          spark.read.parquet(cli.input), k = cli.topK)
      case "chunk" =>
        // input = documents parquet dir → overlapping retrieval chunks
        // (chunk_passages' expressions; zero-shuffle map stage)
        graft.operators.TextOps.chunkDocs(spark.read.parquet(cli.input))
      case "funnel" =>
        // input = events parquet dir → per-user funnel completions
        // (stream_funnel's batch semantics: strict first-occurrence
        // view → click → purchase)
        {
          import spark.implicits._
          import org.apache.spark.sql.functions.col
          val ev = spark.read.parquet(cli.input)
          val typed = ev.select(col("event_id"),
            graft.util.Tables.tsTimestamp(ev).as("ts"),
            col("user_id"), col("event_type"), col("value"))
            .as[graft.streaming.EventStream.Event]
          graft.streaming.EventStream.funnel(typed).toDF()
        }
      case "pca" =>
        // input = embeddings parquet dir (vec_id, embedding float[64]) →
        // components/ (one row per component: eigvec + eigval in
        // original units) and projected/ (vec_id + the centered top-K
        // projection, --top_k K default 20 capped at 64). The corpus
        // pays one exact-integer moment aggregation + one projection
        // map stage; the eigensystem is a bounded driver step.
        {
          import spark.implicits._
          val emb = spark.read.parquet(cli.input)
          val r = math.min(math.max(cli.topK, 1), 64)
          graft.vector.PcaOps.eigensystem(emb) match {
            case None => sys.error("pca needs at least 2 embedding rows")
            case Some(es) =>
              es.vecs.take(r).zipWithIndex.map { case (v, c) =>
                (c, es.eig(c) / graft.vector.PcaOps.qScaleSq, v)
              }.toSeq.toDF("component", "eigval", "eigvec")
                .coalesce(1)
                .write.mode("overwrite").parquet(s"${cli.output}/components")
              graft.vector.PcaOps.project(emb, es.vecs.take(r), es.mu)
                .repartition(cli.outParts)
                .write.mode("overwrite").parquet(s"${cli.output}/projected")
              spark.read.parquet(s"${cli.output}/projected")
          }
        }
      case "dq" =>
        // Data-quality profile of any parquet input (one aggregation
        // pass; see operators/DataQuality.scala for the scale note on
        // swapping exact COUNT(DISTINCT) for HLL at corpus scale)
        graft.operators.DataQuality.profile(spark.read.parquet(cli.input))
      case "image_dedup" =>
        // Visual near-dup over any (media_id, payload) image parquet:
        // decode → dHash → banded Hamming LSH → exact verify. Writes
        // pairs/ (media_a, media_b, hamming, is_dup) and summary/ (the
        // one-row cluster report, computed from the pairs just written
        // — the decontam read-back pattern). Undecodable payloads
        // drop, like the resize path.
        {
          import org.apache.spark.sql.functions.col
          val hashed = graft.media.ImageDedup
            .hashPayloads(spark.read.parquet(cli.input))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          graft.media.ImageDedup.pairsFromHashes(hashed)
            .repartition(cli.outParts)
            .write.mode("overwrite").parquet(s"${cli.output}/pairs")
          hashed.unpersist()
          graft.media.ImageDedup.clusterSummary(
            spark.read.parquet(s"${cli.output}/pairs")
              .filter(col("is_dup"))
              .select(col("media_a").as("id1"), col("media_b").as("id2")))
            .write.mode("overwrite").parquet(s"${cli.output}/summary")
          spark.read.parquet(s"${cli.output}/summary")
        }
      case "sample" =>
        // Generic priority sample of any parquet input — exact weighted
        // sampling without replacement (the curation_priority_sample
        // machinery), reproducible across runs and engines because the
        // draw is a pure function of the id. --output_option id=col
        // (required, numeric unique id), weight=col (uniform when
        // absent), group=col (one global group when absent), k=N
        // (default 100, per group).
        {
          import org.apache.spark.sql.functions.{col, lit}
          val idc = cli.outputOptions.getOrElse("id",
            sys.error(s"sample needs --output_option id=col\n${JobCli.usage}"))
          val wc = cli.outputOptions.get("weight")
            .map(c => col(s"`$c`")).getOrElse(lit(0L))
          val gc = cli.outputOptions.get("group")
            .map(c => col(s"`$c`")).getOrElse(lit("all"))
          val k = cli.outputOptions.getOrElse("k", "100").toInt
          graft.operators.Curation.priorityTopK(
            graft.operators.Curation.priorityScores(
              spark.read.parquet(cli.input), idc, wc, gc), idc, k)
        }
      case "vacuum" =>
        // Retention cleanup for versioned roots (scd2_merge /
        // stream_scd2_maintenance publish root/vN) — completes the
        // compact/zorder/vacuum maintenance trio. --output_option
        // keep=K retains the newest K versions (default 2, min 1);
        // the report of kept/deleted versions is the job output.
        graft.operators.LayoutOps.vacuumVersions(spark, cli.input,
          cli.outputOptions.getOrElse("keep", "2").toInt)
      case "compact" =>
        // Small-files compaction — the ops chore every long-running
        // pipeline needs (streaming sinks and many-task writers
        // fragment output; a 100 TB table of 4 KB files kills every
        // downstream scan's task-scheduling and footer-read overhead).
        // File count = ceil(total bytes / target file size); contents
        // byte-identical, just re-laid-out. --output_option
        // target_mb=N overrides the 128 MB default.
        // --output_option zorder=colA,colB additionally clusters the
        // rewritten files on the Morton interleave of the two keys
        // (Delta OPTIMIZE ZORDER BY): each output file covers a
        // bounded rectangle in (colA, colB) space, so parquet footer
        // min/max stats prune point/range predicates on EITHER key —
        // a single-key sort layout only prunes its own key. The
        // range partitioner samples zval (layout-only
        // nondeterminism; row contents are untouched).
        {
          val df = spark.read.parquet(cli.input)
          val targetMb = cli.outputOptions.getOrElse("target_mb", "128").toLong
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val totalBytes = fs.getContentSummary(
            new org.apache.hadoop.fs.Path(cli.input)).getLength
          val nFiles = math.max(1L,
            (totalBytes + targetMb * 1048576 - 1) / (targetMb * 1048576)).toInt
          val shaped = cli.outputOptions.get("zorder") match {
            case Some(spec) => spec.split(",").map(_.trim).filter(_.nonEmpty) match {
              case Array(a, b) => graft.operators.LayoutOps.zorderRewrite(df, a, b, nFiles)
              case other => sys.error(
                s"compact: zorder expects exactly two columns (zorder=colA,colB), " +
                  s"got '${spec}'\n${JobCli.usage}")
            }
            case None => df.repartition(nFiles)
          }
          shaped.write.mode("overwrite").parquet(cli.output)
          spark.read.parquet(cli.output)
        }
      case other => sys.error(s"unknown job: $other\n${JobCli.usage}")
    }

    if (!selfWriting.contains(cli.job)) JobConfig.write(df, config)

    val rows =
      if (selfWriting.contains(cli.job)) {
        // manifest-protocol index builds have no fixed table paths —
        // count through the protocol-aware readers instead
        cli.job match {
          case "bm25_index_build" =>
            graft.text.InvertedIndex.readStats(spark, cli.output).count()
          case "ann_index_build" =>
            graft.vector.VectorOps.loadIvfIndex(spark, cli.output)
              .centroids.count()
          case _ =>
            val countPath = cli.job match {
              case "host_graph"     => s"${cli.output}/edges"
              case "wet_extract"    => s"${cli.output}/coords"
              case "index_build"    => s"${cli.output}/ccindex"
              case "stream_windows" => s"${cli.output}/data"
              case "warc_stream"    => s"${cli.output}/data"
              case "curate"         => s"${cli.output}/kept"
              case "dedup_index_build" => s"${cli.output}/exact/digests"
              case "dedup_index_probe" => s"${cli.output}/exact"
              case "bm25_index_probe"  => s"${cli.output}/topk"
              case "crawl_diff"        => s"${cli.output}/summary"
              case "decontam"          => s"${cli.output}/kept"
              case "ann_index_probe"   => s"${cli.output}/topk"
              case "compact"           => cli.output
              case "pca"               => s"${cli.output}/projected"
              case "image_dedup"       => s"${cli.output}/pairs"
            }
            spark.read.parquet(countPath).count()
        }
      } else if (JobConfig.isPathOutput(cli.output)) {
        spark.read.format(config.outputFormat).options(config.outputOptions)
          .load(cli.output).count()
      } else spark.table(cli.output).count()
    println(s"[graft] job=${cli.job} rows=$rows; ${counters.summary}")
    profiler.foreach { p =>
      spark.sparkContext.removeSparkListener(p)
      p.report()
    }
  }

  def main(args: Array[String]): Unit = {
    val cli = JobCli.parse(args)
    val spark = Sessions.local(appName = s"graft-${cli.job}")
    try run(spark, cli) finally spark.stop()
  }
}
