package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{ManifestCommit, ManifestTiered, Sessions, Tables}

/** Multi-writer contention drill against ONE manifest MinHash index
  * (the r15 verdict's #5): N concurrent appender threads fold disjoint
  * batches through the COMMUTING publish path while a compactor thread
  * interleaves fail-loud folds — the deployment shape the commuting
  * retry exists for, measured under real contention instead of
  * injected races. Records, per run:
  *
  *  - landed-exactly-once proof: every batch id committed, visible
  *    signature rows == 16 x corpus docs, and the held-out probe
  *    signature EQUAL to a serially-built truth index over the same
  *    corpus (content equality, not just counts);
  *  - `publishCommuting` retry count (ManifestCommit.ContentionRetries
  *    delta) — how often racing appenders actually collided;
  *  - compactor collision count — the fail-loud single-writer folds
  *    that lost their CAS to a racing append and returned to the
  *    cadence (never retried blindly: a fold's REPLACE update is
  *    derived from the snapshot it read);
  *  - per-appender batch walls and total wall.
  *
  * Usage: runMain graft.tools.ContentionDrill [corpus] [nAppenders]
  *          [batchesPerAppender] [compactEveryMs]
  * corpus = an sf dir holding documents.parquet or a bare parquet dir
  * (default /tmp/graft_scale/documents — the 1.15 M-doc megacorpus).
  * Needs SPARK_DRIVER_MEM=24g at megacorpus scale.
  */
object ContentionDrill {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft_scale/documents")
    val nAppenders = args.lift(1).map(_.toInt).getOrElse(3)
    val batchesPer = args.lift(2).map(_.toInt).getOrElse(4)
    val compactEveryMs = args.lift(3).map(_.toLong).getOrElse(8000L)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"),
      "contention-drill")
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.sessionState.newHadoopConf()

    val data = (
      if (new java.io.File(s"$src/documents.parquet").exists())
        Tables(spark, src, "documents")
      else spark.read.parquet(src)
    ).persist()
    val nDocs = data.count()
    val nShards = nAppenders * batchesPer + 1 // shard 0 seeds
    println(s"[drill] corpus $src: $nDocs docs, $nAppenders appenders x " +
      s"$batchesPer batches (shards of ~${nDocs / nShards} docs), " +
      s"compactor every ${compactEveryMs}ms")
    def shard(k: Int): DataFrame =
      data.filter(pmod(col("doc_id"), lit(nShards.toLong)) === k.toLong)

    val idx = java.nio.file.Files.createTempDirectory("drill_idx").toString
    graft.dedup.Dedup.saveMinHashIndex(shard(0), idx)
    println(s"[drill] seeded $idx")

    val retries0 = ManifestCommit.ContentionRetries.get()
    val collisions = new AtomicLong(0)
    val compactions = new AtomicLong(0)
    val appending = new java.util.concurrent.atomic.AtomicInteger(nAppenders)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val batchWalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

    val t0 = System.nanoTime()
    val appenders = (0 until nAppenders).map { a =>
      val th = new Thread(() => {
        try (0 until batchesPer).foreach { b =>
          val k = 1 + a * batchesPer + b
          val w0 = System.nanoTime()
          graft.dedup.Dedup.appendMinHashIndex(shard(k), idx,
            batchId = Some(s"a$a-b$b"))
          val w = (System.nanoTime() - w0) / 1e9
          batchWalls.add(w)
          println(f"[drill] appender $a batch $b (shard $k) landed in $w%.1f s")
        } catch { case e: Throwable => errs.add(e); () }
        finally { appending.decrementAndGet(); () }
      }, s"appender-$a")
      th.start(); th
    }
    // the compactor keeps its production contract: single-writer
    // fail-loud — a lost CAS is a COLLISION (a racing append won the
    // generation); it returns to the cadence and folds next cycle
    val compactor = new Thread(() => {
      while (appending.get() > 0) {
        Thread.sleep(compactEveryMs)
        try {
          graft.dedup.Dedup.compactMinHashIndex(spark, idx)
          compactions.incrementAndGet(); ()
        } catch {
          case _: ManifestCommit.ManifestContentionException =>
            collisions.incrementAndGet(); ()
          case e: Throwable => errs.add(e); ()
        }
      }
    }, "compactor")
    compactor.start()
    appenders.foreach(_.join())
    compactor.join()
    val wall = (System.nanoTime() - t0) / 1e9
    require(errs.isEmpty, s"drill writers failed: ${errs.peek()}")

    // final fold + inline vacuum — the 24/7 closing state
    graft.dedup.Dedup.compactMinHashIndex(spark, idx, vacuumKeep = Some(2))

    // ---- exactly-once proofs ----
    val m = ManifestCommit.current(conf, idx)
    val missing = (for (a <- 0 until nAppenders; b <- 0 until batchesPer)
      yield s"a$a-b$b").filterNot(m.isCommitted)
    require(missing.isEmpty, s"batches not committed: $missing")
    val visible = ManifestTiered.read(spark, idx, m, "bands",
      graft.dedup.Dedup.BandsSchema).count()
    require(visible == 16L * nDocs,
      s"band rows $visible != ${16L * nDocs} — a batch was lost or doubled")
    val sigRows = ManifestTiered.read(spark, idx, m, "sigs",
      graft.dedup.Dedup.SigsSchema).count()
    require(sigRows == nDocs,
      s"signature rows $sigRows != $nDocs — a batch was lost or doubled")
    // content equality vs a SERIAL truth build over the same corpus:
    // the held-out probe (every 4*nShards-th doc, shifted ids) must
    // return the identical hit set
    val truth = java.nio.file.Files.createTempDirectory("drill_truth").toString
    graft.dedup.Dedup.saveMinHashIndex(data, truth)
    val heldOut = data.filter(pmod(col("doc_id"), lit((4L * nShards))) === 1L)
      .withColumn("doc_id", col("doc_id") + 100000000L)
    def probeSig(d: String): (Long, Long) = {
      val r = graft.dedup.Dedup.dedupAgainstMinHashIndex(heldOut, d)
        .selectExpr("count(*) AS n",
          "coalesce(bit_xor(xxhash64(struct(*))), 0) AS h").collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val got = probeSig(idx)
    val want = probeSig(truth)
    require(got == want,
      s"probe signature $got != serial truth $want — contention corrupted content")

    val retries = ManifestCommit.ContentionRetries.get() - retries0
    val walls = { import scala.jdk.CollectionConverters._
      batchWalls.asScala.toVector.sorted }
    println(f"""[drill] {"docs":$nDocs,"appenders":$nAppenders,"batches":${nAppenders * batchesPer},"wall_s":$wall%.1f,"batch_wall_med_s":${walls(walls.size / 2)}%.1f,"batch_wall_max_s":${walls.last}%.1f,"commuting_retries":$retries,"compactions":${compactions.get()},"compactor_collisions":${collisions.get()},"probe_rows":${got._1},"probe_sig_equal":true}""")
    graft.util.FileTrees.rmTree(idx)
    graft.util.FileTrees.rmTree(truth)
    spark.stop()
  }
}
