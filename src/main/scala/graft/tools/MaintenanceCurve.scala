package graft.tools

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import graft.util.{Sessions, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LONG maintenance curve for the persisted indexes (dev tool;
  * results feed SCALE.md): seed with shard 0 of `nShards`, then fold
  * every remaining shard as a successive "crawl", interleaving
  * size-tiered compactions every `compactEvery` batches — the 24/7
  * cadence a years-deep cross-crawl index actually runs. One tool for
  * all three tiered stacks — the instrument that caught MinHash's
  * O(index) probe shuffle had never looked at the other two until r14:
  *
  *   MaintenanceCurve [minhash|bm25|ivf] [src] [nShards=12]
  *                    [compactEvery=4]
  *
  * `src` = an sf dir (documents/embeddings tables) or a bare parquet
  * dir with the right columns.
  *
  * Two curves come out, one per claim:
  *  - per-batch fold wall must stay ~FLAT as the index deepens (the
  *    fold is O(batch [+ collisions]), not O(index));
  *  - per-compaction IO must follow the TAIL between level merges
  *    (minor folds O(tail); the occasional run re-merge O(L1); the
  *    base rewrite only at the size-ratio trip) — the r12 single-level
  *    design paid a full-index rewrite on EVERY cycle, which is the
  *    curve this tool exists to falsify or confirm.
  *
  * Each compaction line records the tier masses the size policy saw,
  * the action it picked, wall, shuffle bytes, and index part-file
  * counts. A held-out probe is checked result-identical across every
  * compaction.
  */
object MaintenanceCurve {

  final class Metrics extends SparkListener {
    val peakTaskMem = new AtomicLong(0L)
    val shuffleWrite = new LongAdder
    val inputBytes = new LongAdder
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tm = e.taskMetrics
      if (tm != null) {
        peakTaskMem.updateAndGet(p => math.max(p, tm.peakExecutionMemory))
        shuffleWrite.add(tm.shuffleWriteMetrics.bytesWritten)
        inputBytes.add(tm.inputMetrics.bytesRead)
      }
    }
    def reset(): Unit = { peakTaskMem.set(0); shuffleWrite.reset(); inputBytes.reset() }
  }

  /** One index family's curve hooks. `probeSig` must be a bounded
    * deterministic signature of a held-out probe's RESULT ROWS (not
    * just a count), so a compaction that reorders/loses/doubles rows
    * is caught.
    */
  private final case class Ops(
      seed: DataFrame => Unit,
      foldBatch: (DataFrame, Int) => Unit,
      probeSig: () => (Long, Long),
      tiers: () => (String, graft.util.TieredIndex.TierSizes),
      compact: () => Unit)

  def main(args: Array[String]): Unit = {
    val modes = Set("minhash", "bm25", "ivf")
    val mode = args.headOption.filter(modes.contains).getOrElse("minhash")
    val rest = if (args.headOption.exists(modes.contains)) args.drop(1) else args
    val src = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val nShards = rest.lift(1).map(_.toInt).getOrElse(12)
    val compactEvery = rest.lift(2).map(_.toInt).getOrElse(4)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"), "mnt-curve")
    spark.sparkContext.setLogLevel("WARN")
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)

    val idKey = if (mode == "ivf") "vec_id" else "doc_id"
    // an sf dir (documents/embeddings table) or a bare parquet dir
    val table = if (mode == "ivf") "embeddings" else "documents"
    val data = (
      if (new java.io.File(s"$src/$table.parquet").exists()) Tables(spark, src, table)
      else spark.read.parquet(src)
    ).persist()
    val nRows = data.count()
    println(s"[curve] mode=$mode corpus $src: $nRows rows, $nShards shards, " +
      s"compact every $compactEvery")

    def shard(k: Int) = data.filter(pmod(col(idKey), lit(nShards.toLong)) === k.toLong)

    val idx = java.nio.file.Files.createTempDirectory(s"${mode}_curve_idx").toString
    val hits = java.nio.file.Files.createTempDirectory(s"${mode}_curve_hits").toString
    // held-out probe slice: the SAME probe before/after each compaction
    val heldOut = data.filter(pmod(col(idKey), lit((nShards * 4).toLong)) === 1L)

    def rowsSig(df: DataFrame): (Long, Long) = {
      // bit_xor: order-independent fold with no ANSI overflow
      val r = df.selectExpr("count(*) AS n",
        "coalesce(bit_xor(xxhash64(struct(*))), 0) AS h").collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    val ops: Ops = mode match {
      case "bm25" =>
        val terms = Seq("join", "vector", "filter", "dup", "the", "data")
        Ops(
          seed = docs => graft.text.InvertedIndex.save(docs, idx),
          foldBatch = (docs, k) => graft.text.InvertedIndex.appendDelta(
            docs, idx, batchId = Some(s"crawl-$k")),
          probeSig = () => rowsSig(
            graft.text.InvertedIndex.probe(spark, idx, terms, k = 20)),
          tiers = () => graft.text.InvertedIndex.compactionTiers(spark, idx),
          compact = () => graft.text.InvertedIndex.compact(spark, idx))
      case "ivf" =>
        val q = heldOut.limit(50)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          .cache()
        Ops(
          seed = vs => graft.vector.VectorOps.saveIvfIndex(
            vs, idx, k = 64, iters = 2),
          foldBatch = (vs, k) => graft.vector.VectorOps.appendIvfIndex(
            vs, idx, batchId = Some(s"crawl-$k")),
          probeSig = () => rowsSig(graft.vector.VectorOps.annIvfIndexed(
            q, graft.vector.VectorOps.loadIvfIndex(spark, idx))),
          tiers = () => graft.vector.VectorOps.compactionTiers(spark, idx),
          compact = () => graft.vector.VectorOps.compactIvfIndex(spark, idx))
      case _ =>
        Ops(
          seed = docs => graft.dedup.Dedup.saveMinHashIndex(docs, idx),
          foldBatch = (docs, k) => graft.dedup.Dedup.probeAndAppendMinHashIndex(
            docs, idx, hits, batchId = Some(s"crawl-$k")),
          probeSig = () => rowsSig(
            graft.dedup.Dedup.dedupAgainstMinHashIndex(heldOut, idx)),
          tiers = () => graft.dedup.Dedup.compactionTiers(spark, idx),
          compact = () => graft.dedup.Dedup.compactMinHashIndex(spark, idx))
    }

    def idxFiles: Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally st.close()
    }
    // physical data-dir count (live + not-yet-vacuumed garbage) and
    // retained manifest generations — the vacuum curve's two columns
    def dataDirs: Long = {
      val root = java.nio.file.Paths.get(idx, "data")
      if (!java.nio.file.Files.isDirectory(root)) return -1L
      val st = java.nio.file.Files.list(root)
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.map { t =>
          val s2 = java.nio.file.Files.list(t)
          try { import scala.jdk.CollectionConverters._
            s2.iterator().asScala.size.toLong
          } finally s2.close()
        }.sum
      } finally st.close()
    }
    def manifestCount: Long = {
      val root = java.nio.file.Paths.get(idx, "_manifests")
      if (!java.nio.file.Files.isDirectory(root)) return 0L
      val st = java.nio.file.Files.list(root)
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.size.toLong
      } finally st.close()
    }
    def timed[T](f: => T): (T, Double) = {
      m.reset()
      val t0 = System.nanoTime()
      val out = f
      val w = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener bus drain
      (out, w)
    }
    // every MinHash probe/fold localCheckpoints its banded signatures
    // and nothing downstream unpersists them — over a 12-batch drill
    // with 3 probes per compaction cycle the leaked blocks OOM the
    // heap (the bench runner clears the same residue between queries).
    // The pinned set keeps the caches the drill REUSES (the corpus;
    // ivf mode's held-out query slice) — captured after the first
    // probe below, because those caches are lazy and only materialize
    // inside it (pinning earlier would unpersist them every cycle and
    // the re-computation would skew the probe timings this tool
    // exists to measure).
    var pinned: Set[Int] = Set.empty
    def clearLeaked(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pinned.contains(id)) { rdd.unpersist(blocking = false); () }
      }

    val (_, seedW) = timed(ops.seed(shard(0)))
    println(f"""[curve] {"stage":"seed","wall_s":$seedW%.1f,"files":$idxFiles}""")

    var probeRef = ops.probeSig()
    // pin everything live now (corpus + lazily-built probe caches; the
    // first probe's own leaked checkpoint rides along — one bounded block)
    pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (1 until nShards).foreach { k =>
      val (_, w) = timed(ops.foldBatch(shard(k), k))
      clearLeaked()
      println(f"""[curve] {"stage":"fold","crawl":$k,"wall_s":$w%.1f,"shuffle_mb":${m.shuffleWrite.sum / 1e6}%.1f,"peak_task_mem_mb":${m.peakTaskMem.get / 1e6}%.1f}""")
      if (k % compactEvery == 0 || k == nShards - 1) {
        val (action, sizes) = ops.tiers()
        val before = idxFiles
        val (refBefore, ppw) = timed(ops.probeSig())
        clearLeaked()
        println(f"""[curve] {"stage":"pre_compact_probe","after_crawl":$k,"wall_s":$ppw%.1f,"shuffle_mb":${m.shuffleWrite.sum / 1e6}%.1f,"probe_rows":${refBefore._1}}""")
        val (_, cw) = timed(ops.compact())
        // capture the compaction's OWN shuffle before the held-out
        // re-probe runs — the re-probe's bytes would otherwise inflate
        // the per-compaction IO this tool exists to measure
        val compactShuffleMb = m.shuffleWrite.sum / 1e6
        val refAfter = ops.probeSig()
        clearLeaked()
        require(refBefore == refAfter,
          s"compaction changed held-out probe: $refBefore vs $refAfter")
        probeRef = refAfter
        println(f"""[curve] {"stage":"compact","after_crawl":$k,"action":"$action","base_rows":${sizes.base},"l1_rows":${sizes.l1},"tail_rows":${sizes.tail},"runs":${sizes.runCount},"wall_s":$cw%.1f,"shuffle_mb":$compactShuffleMb%.1f,"files_before":$before,"files_after":$idxFiles,"probe_rows":${refAfter._1}}""")
        // GC on the same cadence production would — superseded
        // generations' dirs otherwise accumulate unobserved for the
        // whole drill, and the depth claim ("footprint follows the
        // live tiers, not the fold history") goes unmeasured.
        // graceMs=0: a single-writer drill has no live racing writer
        // whose mid-publish lay the grace window exists to protect.
        val (_, vw) = timed(graft.util.ManifestCommit.vacuum(
          spark.sessionState.newHadoopConf(), idx, keepGens = 2, graceMs = 0L))
        val refV = ops.probeSig()
        clearLeaked()
        require(refV == refAfter,
          s"vacuum changed held-out probe: $refAfter vs $refV")
        println(f"""[curve] {"stage":"vacuum","after_crawl":$k,"wall_s":$vw%.1f,"live_dirs":$dataDirs,"manifests":$manifestCount,"files_after":$idxFiles,"probe_rows":${refV._1}}""")
      }
    }
    println(s"[curve] final held-out probe: rows=${probeRef._1} sig=${probeRef._2}")
    Seq(idx, hits).foreach(graft.util.FileTrees.rmTree)
    spark.stop()
  }
}
