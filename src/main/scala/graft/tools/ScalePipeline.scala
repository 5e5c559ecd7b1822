package graft.tools

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import graft.jobs.{JobCli, JobRunner}
import graft.util.Sessions
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** End-to-end scale demonstration: generate a multi-file WARC corpus
  * that no single task could hold, then drive the REAL pipeline CLI —
  * warc_to_documents → curate → minhash dedup → ann_index_build —
  * recording per-stage wall time, bytes moved, and PEAK PER-TASK
  * EXECUTION MEMORY (the number that proves no stage funnels the corpus
  * through one task or the driver). Results feed SCALE.md.
  *
  * Usage: ScalePipeline [nFiles] [docsPerFile] [outRoot]
  *   default 48 files × 3000 docs ≈ 150k pages, ~1 GB of gzipped WARC /
  *   several GB raw HTML. Every 37th page is a near-duplicate of a
  *   shared template so the dedup stage has real work.
  */
object ScalePipeline {

  final class StageMetrics extends SparkListener {
    val peakTaskMem = new AtomicLong(0L)
    val shuffleWrite = new LongAdder
    val inputBytes = new LongAdder
    val tasks = new LongAdder
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tm = e.taskMetrics
      if (tm != null) {
        peakTaskMem.updateAndGet(p => math.max(p, tm.peakExecutionMemory))
        shuffleWrite.add(tm.shuffleWriteMetrics.bytesWritten)
        inputBytes.add(tm.inputMetrics.bytesRead)
        tasks.add(1)
      }
    }
    def reset(): Unit = {
      peakTaskMem.set(0); shuffleWrite.reset(); inputBytes.reset(); tasks.reset()
    }
  }

  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(48)
    val docsPerFile = args.lift(1).map(_.toInt).getOrElse(3000)
    val root = args.lift(2).getOrElse("/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.local(cpus, "graft-scale-pipeline")
    val m = new StageMetrics
    spark.sparkContext.addSparkListener(m)

    def stage[T](name: String)(f: => T): T = {
      m.reset()
      val t0 = System.nanoTime()
      val out = f
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(300)
      println(f"""[scale] {"stage":"$name","wall_s":$wall%.1f,"tasks":${m.tasks.sum},"input_mb":${m.inputBytes.sum / 1e6}%.1f,"shuffle_write_mb":${m.shuffleWrite.sum / 1e6}%.1f,"peak_task_mem_mb":${m.peakTaskMem.get / 1e6}%.1f}""")
      out
    }

    new java.io.File(root).mkdirs()

    // ---- stage 1: generate the WARC corpus (parallel, one file/task).
    //      Resumable: an already-complete corpus is reused, so kernel/
    //      plan iterations re-measure the pipeline without paying
    //      generation again ----
    val warcDir = s"$root/warc"
    new java.io.File(warcDir).mkdirs()
    val existing = new java.io.File(warcDir).listFiles()
    if (existing != null && existing.count(_.getName.endsWith(".warc.gz")) == nFiles) {
      println(s"[scale] reusing existing $nFiles-file corpus in $warcDir")
    } else stage("generate_warc") {
      spark.range(0, nFiles, 1, nFiles).foreachPartition {
        (it: Iterator[java.lang.Long]) =>
        it.foreach { fi =>
          val rng = new scala.util.Random(fi * 7919L)
          // doc_id = xxhash64(url) downstream; the curation pipeline holds
          // out doc_id % 10 == 0 as its eval split and DECONTAMINATES
          // against it — a template doc landing in the split would drag
          // every near-dup twin out of the kept corpus (by design). Keep
          // the planted near-dups out of the split by salting their URLs.
          def docIdOf(url: String): Long = {
            val u = org.apache.spark.unsafe.types.UTF8String.fromString(url)
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
          }
          val recs = (0 until docsPerFile).iterator.map { d =>
            // every 37th page instantiates a shared template with a tiny
            // per-instance suffix (NEAR-dups — exact dedup must not eat
            // them before minhash); others draw from a 4k-word vocab.
            // A stopword every ~7 tokens keeps the docs on the right
            // side of the curation quality gate (stop_hits >= 1).
            def tok(i: Int, w: String): String =
              if (i % 7 == 3) "the" else if (i % 11 == 5) "of" else w
            val words =
              if (d % 37 == 0)
                (0 until 280).map(w => tok(w, "tpl" + ((w * 31 + (d % 3)) % 300))) :+
                  s"uniq$fi-$d"
              else (0 until 150 + rng.nextInt(300))
                .map(i => tok(i, "tok" + rng.nextInt(4000)))
            val text = words.mkString(" ")
            // cross-host links give the corpus a REAL host graph for the
            // extract_host_links → host_graph → pagerank/HITS stages:
            // every page links the hub (host0 becomes the authority),
            // plus a spread target so the edge set isn't a pure star —
            // deterministic, so the graph is reproducible run-to-run
            val spreadHost = (fi.toInt + 1 + d % 13) % nFiles
            val html =
              s"""<html><head><title>p$d</title></head><body>
                 |<nav><a href="/">home</a> <a href="/s">section menu</a></nav>
                 |<article><p>$text</p></article>
                 |<p><a href="/rel$d">related page $d</a></p>
                 |<p>partners: <a href="https://host0.example.test/">hub</a>
                 |<a href="https://host$spreadHost.example.test/page${d % 97}">p</a></p>
                 |<footer>copyright footer boilerplate</footer>
                 |</body></html>""".stripMargin
            val url =
              if (d % 37 == 0)
                (0 until 100).iterator
                  .map(s => s"https://host$fi.example.test/page$d-t$s")
                  .find(u => docIdOf(u) % 10 != 0)
                  .getOrElse(s"https://host$fi.example.test/page$d-t0")
              else s"https://host$fi.example.test/page$d"
            graft.warc.SampleWarc.response(
              url,
              html.getBytes("UTF-8"),
              httpHeaders = Seq("Content-Type" -> "text/html; charset=utf-8",
                "Server" -> (if (fi % 2 == 0) "nginx" else "Apache")),
              warcHeaders = Map("WARC-Identified-Payload-Type" -> "text/html"))
          }
          graft.warc.WarcWriter.writeFile(
            f"$warcDir/part-$fi%05d.warc.gz", recs.toSeq)
          ()
        }
      }
      val sz = new java.io.File(warcDir).listFiles().map(_.length()).sum
      println(f"[scale] generated $nFiles files, ${sz / 1e6}%.0f MB gzipped")
    }

    // ---- stage 1b: streaming ingest of the same landing dir through
    // the DSv2 micro-batch WARC source (the 24/7 arrival path) — one
    // archive per batch partition, bronze rows out; count must equal
    // the archives' record total
    stage("warc_stream_ingest") {
      JobRunner.run(spark, JobCli("warc_stream", warcDir, s"$root/bronze"))
      val n = spark.read.parquet(s"$root/bronze/data").count()
      println(s"[scale] warc_stream bronze rows: $n")
    }

    // ---- stage 2: warc_to_documents (the real CLI job) ----
    val manifest = s"$root/manifest.txt"
    val files = new java.io.File(warcDir).listFiles().map(_.getAbsolutePath).sorted
    java.nio.file.Files.write(java.nio.file.Paths.get(manifest),
      files.mkString("\n").getBytes("UTF-8"))
    val docsDir = s"$root/documents"
    stage("warc_to_documents") {
      JobRunner.run(spark, JobCli("warc_to_documents", manifest, docsDir,
        inParts = nFiles, outParts = cpus.toInt, mainContent = true))
    }

    // ---- stage 3: curate (quality → exact dedup → decontam pipeline) ----
    val curatedDir = s"$root/curated"
    stage("curate") {
      JobRunner.run(spark, JobCli("curate", docsDir, curatedDir,
        outParts = cpus.toInt))
    }

    // ---- stage 4: minhash near-dup pairs over the curated corpus ----
    val pairsDir = s"$root/minhash_pairs"
    stage("dedup_minhash") {
      val docs = spark.read.parquet(s"$curatedDir/kept")
      graft.dedup.Dedup.minHashDedup(
          graft.dedup.Dedup.wordShingles(docs, 5),
          perms = 64, rowsPerBand = 4, threshold = 0.5)
        .write.mode("overwrite").parquet(pairsDir)
      println(s"[scale] near-dup pairs: ${spark.read.parquet(pairsDir).count()}")
    }

    // ---- stage 5: synthesize embeddings + build the IVF-PQ index ----
    val embDir = s"$root/embeddings"
    stage("embed") {
      spark.read.parquet(s"$curatedDir/kept")
        .select(col("doc_id").as("vec_id"),
          expr("transform(sequence(0, 63), k -> " +
            "cast(pmod(xxhash64(doc_id, k), 1000) / 1000.0 as float))")
            .as("embedding"))
        .write.mode("overwrite").parquet(embDir)
    }
    val idxDir = s"$root/ann_index"
    stage("ann_index_build") {
      JobRunner.run(spark, JobCli("ann_index_build", embDir, idxDir,
        outParts = cpus.toInt))
    }

    // ---- stage 6: exact heavy hitters via the MG sketch-then-verify
    //      plan — at this volume the sketch pass shuffles width×tasks
    //      summary rows where the p6-style plan would shuffle every
    //      token occurrence ----
    stage("heavy_hitters") {
      val top = graft.operators.HeavyHitters
        .topK(spark.read.parquet(s"$curatedDir/kept"), k = 20)
        .collect()
      println(s"[scale] top tokens: ${top.take(5).map(r =>
        s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")} …")
    }

    // ---- stage 6b: PCA over the full embedding corpus — ONE
    //      mapPartitions moment pass (16 KB accumulator per partition,
    //      14× over the explode form at 1 M vectors),
    //      driver-side 64×64 Jacobi, one projection map stage ----
    val pcaDir = s"$root/pca"
    stage("pca") {
      JobRunner.run(spark, JobCli("pca", embDir, pcaDir,
        outParts = cpus.toInt, topK = 16))
      println(s"[scale] pca projected: " +
        s"${spark.read.parquet(s"$pcaDir/projected").count()} rows")
    }

    // ---- stage 7: passage chunking (zero-shuffle map stage) ----
    val chunksDir = s"$root/chunks"
    stage("chunk_passages") {
      graft.operators.TextOps
        .chunkDocs(spark.read.parquet(s"$curatedDir/kept"))
        .write.mode("overwrite").parquet(chunksDir)
      println(s"[scale] chunks: ${spark.read.parquet(chunksDir).count()}")
    }

    // ---- stage 8: data-quality gate over the shipped corpus (one
    //      aggregation pass; the report is what a release pipeline
    //      checks before promoting the snapshot) ----
    stage("dq_profile") {
      val prof = graft.operators.DataQuality
        .profile(spark.read.parquet(s"$curatedDir/kept")).collect()
      println(s"[scale] dq: " + prof.map(r =>
        s"${r.getString(0)} nn=${r.getLong(2)} nd=${r.getLong(3)}").mkString(", "))
    }

    // ---- stage 9: z-order compaction of the kept corpus on
    //      (doc_id, n_chars) — one range shuffle; per-file footer
    //      min/max become prunable rectangles on BOTH keys ----
    val zorderDir = s"$root/kept_zorder"
    stage("zorder_compact") {
      JobRunner.run(spark, JobCli("compact", s"$curatedDir/kept", zorderDir,
        outputOptions = Map("target_mb" -> "32", "zorder" -> "doc_id,n_chars")))
    }

    // ---- stage 10: host-link edges from the raw archives — the
    //      reference's flagship pipeline (wat_extract_links →
    //      hostlinks_to_graph) over the SAME manifest the documents
    //      came from: redirect Location edges + raw-HTML anchors,
    //      SURT-normalized per host pair, deduped in the scan ----
    val linksDir = s"$root/hostlinks"
    stage("extract_host_links") {
      JobRunner.run(spark, JobCli("extract_host_links", manifest, linksDir,
        inParts = nFiles, outParts = cpus.toInt))
      println(s"[scale] host edges: ${spark.read.parquet(linksDir).count()}")
    }

    // ---- stage 11: hostlinks_to_graph — integer-ID vertex/edge tables
    //      via the scalable sortBy+zipWithIndex assignment (no
    //      single-partition bottleneck), self-loops dropped post-ID ----
    val graphDir = s"$root/host_graph"
    stage("host_graph") {
      JobRunner.run(spark, JobCli("host_graph", linksDir, graphDir,
        outParts = cpus.toInt, vertexPartitions = cpus.toInt,
        normalizeHostNames = true))
      println(s"[scale] graph: " +
        s"${spark.read.parquet(s"$graphDir/vertices").count()} vertices, " +
        s"${spark.read.parquet(s"$graphDir/edges").count()} edges")
    }

    // ---- stages 12-13: PageRank + HITS over the REAL extracted edge
    //      structure (per-iteration cost ≈ wall / iters; both are the
    //      keyed-join-per-round shape with checkpointed lineage) ----
    stage("graph_pagerank_5it") {
      val pr = graft.jobs.HostRank
        .pageRank(spark.read.parquet(s"$graphDir/edges"), iters = 5)
        .orderBy(col("rank").desc).limit(5).collect()
      println(s"[scale] top pagerank: " +
        pr.map(r => s"${r.get(0)}=${"%.4f".format(r.getDouble(1))}").mkString(", "))
    }
    stage("graph_hits_3it") {
      val top = graft.jobs.HostRank
        .hits(spark.read.parquet(s"$graphDir/edges"), iters = 3)
        .orderBy(col("a").desc).limit(5).collect()
      println(s"[scale] top authorities: " +
        top.map(r => s"${r.get(0)}").mkString(", "))
    }

    // ---- stage: cross-crawl dedup-index maintenance at corpus scale.
    // Seed with shard 0 of the curated corpus, then probe+append shards
    // 1..3 as successive "crawls", timing EACH batch separately — the
    // curve that shows the pruned probe's per-batch cost following the
    // BATCH, not the accumulated index (the pre-r12 probe re-scanned
    // and re-aggregated the whole index per batch, so these walls would
    // grow with k). A final compaction must leave probe results
    // identical while collapsing the per-batch part-file generations.
    val mIdx = s"$root/minhash_index"
    val mHits = s"$root/minhash_hits"
    stage("dedup_index_seed") {
      Seq(mIdx, mHits).foreach(graft.util.FileTrees.rmTree)
      graft.dedup.Dedup.saveMinHashIndex(
        spark.read.parquet(s"$curatedDir/kept")
          .filter(pmod(col("doc_id"), lit(4L)) === 0L), mIdx)
    }
    (1 to 3).foreach { k =>
      stage(s"dedup_index_probe_append_$k") {
        graft.dedup.Dedup.probeAndAppendMinHashIndex(
          spark.read.parquet(s"$curatedDir/kept")
            .filter(pmod(col("doc_id"), lit(4L)) === k.toLong),
          mIdx, mHits, batchId = Some(s"crawl-$k"))
      }
    }
    stage("dedup_index_compact") {
      def idxParquetFiles = { // distinct name: `nFiles` is the corpus CLI arg
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(mIdx))
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.count(_.toString.endsWith(".parquet"))
        } finally st.close()
      }
      val probe = spark.read.parquet(s"$curatedDir/kept")
        .filter(pmod(col("doc_id"), lit(16L)) === 5L)
      val before = graft.dedup.Dedup.dedupAgainstMinHashIndex(probe, mIdx).count()
      val filesBefore = idxParquetFiles
      graft.dedup.Dedup.compactMinHashIndex(spark, mIdx)
      val after = graft.dedup.Dedup.dedupAgainstMinHashIndex(probe, mIdx).count()
      require(before == after, s"compaction changed probe results: $before vs $after")
      println(s"[scale] minhash index part-files $filesBefore -> $idxParquetFiles, " +
        s"drained hits ${spark.read.parquet(mHits).count()}, " +
        s"probe hits stable at $before")
    }

    spark.stop()
  }
}
