package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** The MinHash index on the versioned-manifest (object-store) commit
  * protocol: the public entry points (save / append / probeAndAppend /
  * compact / probe) must produce probe results identical to a
  * from-scratch build. Exercised on the local FS (the manifest module
  * itself never renames, so local-FS green implies the same code path
  * an s3a:// dir takes — ManifestCommitSpec holds the primitive-level
  * guarantees, ManifestRenameFreeSpec the object-store lifecycle).
  */
class MinHashManifestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private def sf: Option[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .find(d => new java.io.File(d).exists())

  private def hitSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("append folds a delta exactly once; probes equal a from-scratch build; compact is invisible") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val oldCrawl = corpus.filter(col("doc_id") % 3 =!= 0)
    val delta = corpus.filter(col("doc_id") % 3 === 0)
    val grown = java.nio.file.Files.createTempDirectory("mh_mani_g").toString
    val scratch = java.nio.file.Files.createTempDirectory("mh_mani_s").toString
    Dedup.saveMinHashIndex(oldCrawl, grown)
    Dedup.saveMinHashIndex(corpus, scratch)
    Dedup.appendMinHashIndex(delta, grown, batchId = Some("crawl-7"))
    // the crashed-orchestrator retry: the committed id makes it a no-op
    Dedup.appendMinHashIndex(delta, grown, batchId = Some("crawl-7"))
    assert(ManifestCommit.isBatchCommitted(conf, grown, "crawl-7"))
    val probe = corpus.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    def hits(d: String) = hitSet(Dedup.dedupAgainstMinHashIndex(probe, d))
    val fromScratch = hits(scratch)
    assert(hits(grown) == fromScratch, "append+retry must equal a from-scratch build")
    assert(fromScratch.nonEmpty)
    // tail is non-empty pre-compact; Minor folds it into one flat run
    val m0 = ManifestCommit.current(conf, grown)
    assert(m0.rows(ManifestTiered.tailTable("bands")) > 0L)
    Dedup.compactMinHashIndex(spark, grown)
    val m1 = ManifestCommit.current(conf, grown)
    assert(m1.rows(ManifestTiered.tailTable("bands")) == 0L, "tail must empty")
    assert(m1.entries(ManifestTiered.l1Table("bands")).size == 1, "one L1 run")
    assert(m1.rows(ManifestTiered.l1Table("bands")) ==
      m0.rows(ManifestTiered.tailTable("bands")), "Minor folds exactly the tail")
    assert(hits(grown) == fromScratch, "compaction changed probe results")
    // idempotent: nothing left to fold
    Dedup.compactMinHashIndex(spark, grown)
    assert(ManifestCommit.current(conf, grown).gen == m1.gen, "NoOp must not publish")
    // maintenance observability reads tier masses off the manifest
    val (action, sizes) = Dedup.compactionTiers(spark, grown)
    assert(action == "NoOp" && sizes.tail == 0L && sizes.l1 == m1.rows(ManifestTiered.l1Table("bands")))
  }

  test("probe-and-append drains crawls with snapshot-isolated probes; vacuum keeps live readers whole") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mh_mani_d").toString
    val hitsOut = java.nio.file.Files.createTempDirectory("mh_mani_h").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 4 === 0), dir)
    // two crawls through the maintenance entry: each probes the
    // PRE-batch snapshot, then appends itself in the same publish
    (1 to 2).foreach { k =>
      Dedup.probeAndAppendMinHashIndex(
        corpus.filter(col("doc_id") % 4 === k), dir, hitsOut.toString,
        batchId = Some(ManifestCommit.seqBatchId("drain", k.toLong)))
    }
    // retried batch (watermark id): a full no-op — no third hits dir,
    // no index growth
    val genBefore = ManifestCommit.current(conf, dir).gen
    Dedup.probeAndAppendMinHashIndex(
      corpus.filter(col("doc_id") % 4 === 2), dir, hitsOut.toString,
      batchId = Some(ManifestCommit.seqBatchId("drain", 2L)))
    assert(ManifestCommit.current(conf, dir).gen == genBefore)
    // a reader pinned to the pre-compaction snapshot keeps its results
    // across compact + vacuum(keepGens=2) — snapshot isolation
    val probe = corpus.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 3000000L)
    val pinned = Dedup.dedupAgainstMinHashIndex(probe, dir)
    val before = hitSet(pinned)
    Dedup.compactMinHashIndex(spark, dir)
    ManifestCommit.vacuum(conf, dir, keepGens = 2, graceMs = 0L)
    assert(hitSet(pinned) == before, "pinned snapshot broken by compact+vacuum")
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir)) == before,
      "fresh probe changed by compaction")
    // vacuum to the current snapshot only: fresh probes still whole
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir)) == before)
    assert(before.nonEmpty)
  }

  test("a probe-and-append over a base and two tails runs in at most 7 Spark jobs, " +
      "none of them a per-tier key broadcast") {
    val rng = new java.util.Random(20261020L)
    val texts = (0L until 1000L)
      .map(i => i -> Seq.fill(50)(s"w${rng.nextInt(3000)}").mkString(" ")).toMap
    def docs(ids: Seq[Long], shift: Long = 0L) =
      spark.createDataFrame(ids.map(i => (i + shift, texts(i)))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_mani_j").toString
    val hitsOut = java.nio.file.Files.createTempDirectory("mh_mani_jh").toString
    Dedup.saveMinHashIndex(docs(0L until 600L), dir)
    Dedup.appendMinHashIndex(docs(600L until 700L), dir, batchId = Some("t1"))
    Dedup.appendMinHashIndex(docs(700L until 800L), dir, batchId = Some("t2"))
    assert(ManifestCommit.current(conf, dir).entries(ManifestTiered.tailTable("bands")).size == 2)
    // new documents plus copies of one indexed document from each tier
    val batch = docs(800L until 1000L).unionByName(docs(Seq(5L, 650L, 750L), shift = 10000L))
    val (_, jobs) = graft.util.JobGroups.jobsOf(spark) {
      Dedup.probeAndAppendMinHashIndex(batch, dir, hitsOut, batchId = Some("p"))
    }
    // one job counts the batch's keys, one gathers them (they reach the
    // tasks as one broadcast variable, not as an exchange per tier), one
    // collects the colliding band rows, the hits write joins the
    // candidates' signatures (at most one broadcast exchange), and the
    // two tail lays run beside it
    assert(jobs.size <= 7, s"${jobs.size} jobs: ${jobs.map(_.stages.mkString("|"))}")
    assert(jobs.count(_.isBroadcast) <= 1, s"${jobs.count(_.isBroadcast)} broadcast exchanges")
    val hits = spark.read.parquet(s"$hitsOut/batch_id=p").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((10005L, 5L), (10650L, 650L), (10750L, 750L)).subsetOf(hits), hits)
  }

  private def generated(n: Int, seed: Long): Map[Long, String] = {
    val rng = new java.util.Random(seed)
    (0L until n.toLong).map(i => i -> Seq.fill(40)(s"w${rng.nextInt(2000)}").mkString(" ")).toMap
  }

  test("no widths table is laid by a build, an append, a probe-and-append, a Minor or a Major compaction") {
    val texts = generated(500, 20261022L)
    def docs(ids: Seq[Long]) =
      spark.createDataFrame(ids.map(i => (i, texts(i)))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_mani_nw").toString
    val hitsOut = java.nio.file.Files.createTempDirectory("mh_mani_nwh").toString
    def noWidths(step: String): Unit = {
      val tables = ManifestCommit.current(conf, dir).tables.keys
      assert(!tables.exists(_.startsWith("widths")), s"$step published ${tables.toSeq.sorted}")
      val laid = Option(new java.io.File(dir, "data").list()).map(_.toSeq).getOrElse(Nil)
      assert(laid.nonEmpty && !laid.exists(_.startsWith("widths")), s"$step laid $laid")
    }
    Dedup.saveMinHashIndex(docs(0L until 200L), dir)
    noWidths("a build")
    Dedup.appendMinHashIndex(docs(200L until 220L), dir, batchId = Some("a"))
    noWidths("an append")
    Dedup.probeAndAppendMinHashIndex(docs(220L until 240L), dir, hitsOut, batchId = Some("p"))
    noWidths("a probe-and-append")
    assert(Dedup.compactionTiers(spark, dir)._1 == "Minor")
    Dedup.compactMinHashIndex(spark, dir)
    noWidths("a Minor compaction")
    Dedup.appendMinHashIndex(docs(240L until 500L), dir, batchId = Some("b"))
    assert(Dedup.compactionTiers(spark, dir)._1 == "Major")
    Dedup.compactMinHashIndex(spark, dir)
    noWidths("a Major compaction")
  }

  test("an index that still names a published widths table probes and compacts like one that does not") {
    val texts = generated(300, 20261023L)
    def docs(ids: Seq[Long], shift: Long = 0L) =
      spark.createDataFrame(ids.map(i => (i + shift, texts(i)))).toDF("doc_id", "text")
    val clean = java.nio.file.Files.createTempDirectory("mh_mani_wc").toString
    val stale = java.nio.file.Files.createTempDirectory("mh_mani_ws").toString
    Seq(clean, stale).foreach { d =>
      Dedup.saveMinHashIndex(docs(0L until 200L), d)
      Dedup.appendMinHashIndex(docs(200L until 240L), d, batchId = Some("t1"))
    }
    val batch = docs(Seq(3L, 7L, 210L, 230L), shift = 10000L).unionByName(docs(240L until 260L))
    val (sigs, bands) = Dedup.bandedSignaturesDev(batch)
    // the per-bucket summary an older build kept, claiming every bucket
    // the batch touches is over the cap with an anchor no index row has:
    // a reader that still used it would drop every candidate
    val widths = ManifestCommit.newDataDir(stale, ManifestTiered.tailTable("widths"))
    bands.select(col("bucket"), lit(100000L).as("bw"), lit(-1L).as("aid"), col("band"), col("bmod"))
      .write.parquet(s"$stale/$widths")
    val nRows = bands.count()
    ManifestCommit.publish(conf, stale, m =>
      ManifestCommit.addDir(m, ManifestTiered.tailTable("widths"), widths, nRows))
    def hits(d: String, gate: Long) = hitSet(Dedup.probeWithBands(spark, sigs, bands,
      Dedup.manifestReader(spark, d, ManifestCommit.current(conf, d)), 64, 0.5, 16,
      maxBroadcastKeys = gate))
    def same(step: String): Unit =
      // the collected probe, and the shuffled one above a zero gate
      Seq(16L * 1000 * 1000, 0L).foreach { gate =>
        val want = hits(clean, gate)
        assert(Set(10003L -> 3L, 10007L -> 7L, 10210L -> 210L, 10230L -> 230L)
          .subsetOf(want.map(h => h._1 -> h._2)), s"$step, gate $gate: $want")
        assert(hits(stale, gate) == want, s"a stale widths table changed the hits $step, gate $gate")
      }
    same("before compaction")
    Seq(clean, stale).foreach(Dedup.compactMinHashIndex(spark, _))
    same("after a Minor compaction")
    assert(ManifestCommit.current(conf, stale).table(ManifestTiered.tailTable("widths")) == Seq(widths),
      "compaction must leave the stale widths entry as it is")
  }

  test("manifest probes prune the partitioned base statically and push band/bmod to the flat tiers") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mh_mani_p").toString
    Dedup.saveMinHashIndex(corpus, dir)
    Dedup.appendMinHashIndex(corpus.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 7000000L), dir,
      batchId = Some("b1"))
    Dedup.compactMinHashIndex(spark, dir) // tail → one flat L1 run
    val (_, probeScans) = ProbeScans.of(spark, dir) {
      Dedup.dedupAgainstMinHashIndex(corpus.filter(col("doc_id") < 2), dir)
    }
    val scans = probeScans.filter(_.relation.location.rootPaths.exists(_.toString.contains("data/bands")))
    assert(scans.nonEmpty)
    val (baseScans, flatScans) = scans.partition(
      _.relation.location.rootPaths.exists(_.toString.contains("data/bands/")))
    assert(baseScans.nonEmpty, "probe must read the partitioned base")
    baseScans.foreach { f =>
      val static = f.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
      assert(static.nonEmpty, s"base scan without static partition filter:\n$f")
      val pruned = f.relation.location.listFiles(static, Nil).map(_.files.size).sum
      val total = f.relation.location.listFiles(Nil, Nil).map(_.files.size).sum
      assert(pruned < total,
        s"2-doc probe must prune the manifest base (pruned=$pruned, total=$total)")
    }
    // flat L1 run scans push the direct band/bmod predicates to
    // parquet footer stats
    assert(flatScans.nonEmpty, "probe must read the flat L1 run")
    flatScans.foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("band") && pushed.contains("bmod"),
        s"flat-tier scan must push band/bmod, got: $pushed")
    }
  }

  test("a REBUILD over an existing index replaces it: probes equal a fresh build") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("mh_flip").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    val probe = corpus.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 6000000L)
    // a rebuild over an existing index publishes a manifest that
    // replaces every table
    Dedup.saveMinHashIndex(corpus, dir)
    val scratch = java.nio.file.Files.createTempDirectory("mh_flip_s").toString
    Dedup.saveMinHashIndex(corpus, scratch)
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir)) ==
      hitSet(Dedup.dedupAgainstMinHashIndex(probe, scratch)),
      "a rebuild must probe like a fresh build of the same corpus")
  }

  test("a writer crash between lay and publish leaves probes on the old snapshot; the redrive lands clean") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("mh_mani_c").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    val probe = corpus.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 4000000L)
    val before = hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir))
    // simulate the crash state the protocol promises to tolerate: data
    // dirs fully laid, manifest never published (what a killed
    // appendMinHashIndex leaves behind)
    val orphan = ManifestCommit.newDataDir(dir, "bands.tail")
    graft.util.Tables(spark, sf.get, "documents").limit(0)
      .select(col("doc_id"), col("doc_id").as("bucket"),
        lit(0).as("band"), lit(0).as("bmod"))
      .write.parquet(s"$dir/$orphan")
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir)) == before,
      "unpublished dirs must be invisible to probes")
    // the redrive appends for real and the orphan stays garbage
    Dedup.appendMinHashIndex(corpus.filter(col("doc_id") % 2 === 1), dir,
      batchId = Some("redrive-1"))
    val scratch = java.nio.file.Files.createTempDirectory("mh_mani_c2").toString
    Dedup.saveMinHashIndex(corpus, scratch)
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir)) ==
      hitSet(Dedup.dedupAgainstMinHashIndex(probe, scratch)))
  }

  test("AS-OF probes read a retained historical generation; vacuumed " +
      "generations fail loudly") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("mh_asof").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    val g1 = ManifestCommit.current(conf, dir).gen
    val probe = corpus.filter(col("doc_id") < 40)
      .withColumn("doc_id", col("doc_id") + 7000000L)
    val oldHits = hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir))
    Dedup.appendMinHashIndex(corpus.filter(col("doc_id") % 2 === 1), dir,
      batchId = Some("crawl-1"))
    // the AS-OF probe reproduces the pre-append result exactly, while
    // the current snapshot sees the appended crawl too
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir,
      asOfGen = Some(g1))) == oldHits)
    val curHits = hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir))
    assert(curHits.size > oldHits.size,
      "the appended crawl must contribute hits the AS-OF probe lacks")
    // vacuum to the current generation: the history is gone and the
    // AS-OF probe must say so (never silently read a different state)
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstMinHashIndex(probe, dir, asOfGen = Some(g1)).count()
    }
    assert(e.getMessage.contains("retained generations"))
    assert(hitSet(Dedup.dedupAgainstMinHashIndex(probe, dir)) == curHits,
      "vacuum must not disturb the current snapshot")
  }

  test("an append never publishes rows banded under superseded params — " +
      "even on an uncontended FIRST attempt") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("mh_toctou").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    val m0 = ManifestCommit.current(conf, dir)
    // the appender validated + banded under the defaults; BEFORE its
    // publish, a racing rebuild rewrites the meta marker (its first
    // step — the rebuild's own manifest may not even have landed yet,
    // so the publish CAS alone would see NO contention)
    val (sigs, banded) = Dedup.bandedSignaturesDev(
      corpus.filter(col("doc_id") % 2 === 1))
    val metaPath = java.nio.file.Paths.get(dir, "_graft_minhash_meta")
    val origMeta = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    // rewrite through the Hadoop FS, exactly as a real rebuild's
    // writeIndexMeta does (a raw NIO write leaves a stale .crc sidecar)
    val hp = new org.apache.hadoop.fs.Path(dir, "_graft_minhash_meta")
    val out = hp.getFileSystem(conf).create(hp, true)
    try out.write(origMeta.replace("shingle_w=5", "shingle_w=9")
      .getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      Dedup.appendAtManifest(sigs, banded, dir, m0, Some("t1"),
        commuting = true, expectMeta = origMeta)
    }
    assert(e.getMessage.contains("changed the MinHash params"), e.getMessage)
    val cur = ManifestCommit.current(conf, dir)
    assert(cur.rows(ManifestTiered.tailTable("bands")) == 0L &&
      !cur.isCommitted("t1"),
      "the stale-banded batch must not have published")
  }

}
