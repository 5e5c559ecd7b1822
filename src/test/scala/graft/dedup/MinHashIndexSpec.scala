package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** Incremental dedup against a persisted MinHash index: the new batch
  * must find its near-dups among previously indexed documents without
  * the index side re-reading any text. Everything runs on the
  * versioned-manifest commit protocol (the only one — the rename
  * bodies are retired; MinHashManifestSpec holds the protocol-level
  * cases, TieredCompactionSpec the MergeRuns/Major arms).
  */
class MinHashIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private def sf: Option[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .find(d => new java.io.File(d).exists())

  private def baseDir(dir: String): String =
    s"$dir/${ManifestCommit.current(conf, dir).table("bands").head}"

  test("new batch finds exact copies and misses disjoint docs; base layout is band-partitioned") {
    assume(sf.isDefined)
    import spark.implicits._
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    Dedup.saveMinHashIndex(corpus, dir)
    // inverted-list layout on disk: one directory per band inside the
    // manifest's base dir
    val bandDirs = new java.io.File(baseDir(dir)).listFiles()
      .filter(_.getName.startsWith("band=")).map(_.getName)
    assert(bandDirs.length == 16) // 64 perms / 4 rows per band

    // new batch: 3 exact copies of indexed docs (shifted ids) + 1 disjoint
    val copies = corpus.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val fresh = Seq((2000000L,
      (1 to 60).map(i => s"qq$i unseen").mkString(" "), "en", "zz", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = copies.unionByName(fresh)

    val hits = Dedup.dedupAgainstMinHashIndex(batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every copy matches its original at estimated jaccard 1.0
    (0L until 3L).foreach { id =>
      assert(hits.exists(h => h._1 == id + 1000000L && h._2 == id && h._3 == 1.0),
        s"copy of doc $id not found in ${hits.toSeq}")
    }
    // the disjoint doc matches nothing
    assert(!hits.exists(_._1 == 2000000L), s"false hit: ${hits.toSeq}")
  }

  test("probe plan joins on (band, bucket) — no cross of index × batch") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx2").toString
    Dedup.saveMinHashIndex(corpus, dir)
    val probe = Dedup.dedupAgainstMinHashIndex(
      corpus.filter(col("doc_id") < 5), dir)
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"probe must be a keyed join:\n$plan")
  }

  test("probe fails loudly on a hash-family/parameter mismatch or a missing marker") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx3").toString
    Dedup.saveMinHashIndex(corpus, dir)

    // parameter drift: same index probed with a different banding scheme
    // would silently produce zero bucket collisions — must throw instead
    val e1 = intercept[IllegalStateException] {
      Dedup.dedupAgainstMinHashIndex(corpus, dir, rowsPerBand = 8)
    }
    assert(e1.getMessage.contains("incompatible parameters"))

    // pre-marker index (built by an older binary): marker absent → throw,
    // never an empty result
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_graft_minhash_meta"))
    val e2 = intercept[IllegalStateException] {
      Dedup.dedupAgainstMinHashIndex(corpus, dir)
    }
    assert(e2.getMessage.contains("no _graft_minhash_meta marker"))
  }

  test("appendMinHashIndex folds a delta in; probes equal a from-scratch build") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val oldCrawl = corpus.filter(col("doc_id") % 3 =!= 0)
    val newCrawl = corpus.filter(col("doc_id") % 3 === 0)

    val grown = java.nio.file.Files.createTempDirectory("mhidx_g").toString
    Dedup.saveMinHashIndex(oldCrawl, grown)
    def filesUnder(root: String) = {
      val b = scala.collection.mutable.Map[String, Long]()
      val p0 = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.isDirectory(p0))
        java.nio.file.Files.walk(p0)
          .filter(_.toString.endsWith(".parquet"))
          .forEach(p => b(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis)
      b.toMap
    }
    val base = baseDir(grown)
    val before = filesUnder(base)
    Dedup.appendMinHashIndex(newCrawl, grown)
    // level-0 shape: the partitioned BASE survives byte-untouched — the
    // delta lands as fresh flat tail dirs named by the new manifest
    val after = filesUnder(base)
    before.foreach { case (f, mtime) =>
      assert(after.contains(f) && after(f) == mtime, s"base band file rewritten: $f")
    }
    assert(after.size == before.size, "append must not touch the base layout")
    val m = ManifestCommit.current(conf, grown)
    assert(m.rows(ManifestTiered.tailTable("bands")) > 0, "no tail rows appended")

    val scratch = java.nio.file.Files.createTempDirectory("mhidx_s").toString
    Dedup.saveMinHashIndex(corpus, scratch)
    val probe = corpus.filter(col("doc_id") < 5)
    def hits(d: String) = Dedup.dedupAgainstMinHashIndex(probe, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hits(grown) == hits(scratch))
    assert(hits(grown).nonEmpty)

    // append refuses parameter drift BEFORE writing (it would poison the index)
    val e = intercept[IllegalStateException] {
      Dedup.appendMinHashIndex(newCrawl, grown, perms = 32, rowsPerBand = 8)
    }
    assert(e.getMessage.contains("incompatible parameters"))
  }

  test("probe prunes to the batch's touched (band, bmod) partitions and scans bands ONCE") {
    // bands is read without signatures; sigs is read once, for verification
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_pr").toString
    Dedup.saveMinHashIndex(corpus, dir)
    val (probe, scans) = ProbeScans.of(spark, dir) {
      Dedup.dedupAgainstMinHashIndex(corpus.filter(col("doc_id") < 2), dir)
    }

    // manifest data dirs: data/bands/d-*/band=... and data/sigs/d-*/...
    def scansOf(sub: String) =
      scans.filter(_.relation.location.rootPaths.exists(_.toString.contains(sub)))
    // the over-cap anchors come from the colliding band rows, so no
    // second (whole-index) bands scan feeds them
    val bandsScans = scansOf("/bands/")
    assert(bandsScans.size == 1, s"bands must be scanned exactly once, got ${bandsScans.size}")
    bandsScans.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("sig"),
        s"bands scan must not read signatures: ${f.requiredSchema}")
    }
    val sigsScans = scansOf("/sigs/")
    assert(sigsScans.size == 1, s"sigs must be scanned exactly once, got ${sigsScans.size}")
    // the bands scan carries a static partition filter from the
    // batch's bounded touched set — the probe reads only the partitions
    // the batch can collide with, never the whole persisted index
    bandsScans.foreach { f =>
      // the batch's touched set arrives as STATIC literals (the join may
      // add a DynamicPruningSubquery on top, which listFiles can't
      // evaluate — the static filter alone must already prune)
      val static = f.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
      assert(static.nonEmpty, s"index scan without static partition filter:\n$f")
      val pruned = f.relation.location.listFiles(static, Nil)
        .map(_.files.size).sum
      val total = f.relation.location.listFiles(Nil, Nil).map(_.files.size).sum
      assert(pruned < total,
        s"2-doc probe must prune (pruned=$pruned, total=$total)")
      assert(pruned > 0, "pruning must keep the touched partitions")
    }
    // and the pruned probe still finds the planted self-match
    assert(probe.collect().exists(r => r.getLong(0) == r.getLong(1)))
  }

  test("probe of an empty batch returns empty, no index read") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_e").toString
    Dedup.saveMinHashIndex(corpus, dir)
    val hits = Dedup.dedupAgainstMinHashIndex(corpus.filter(lit(false)), dir)
    assert(hits.columns.toSeq == Seq("new_id", "idx_id", "est_jaccard"))
    assert(hits.count() == 0)
  }

  test("batch-id'd append is retry-idempotent at any later point") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_i").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 2 === 0), dir)
    val delta = corpus.filter(col("doc_id") % 2 === 1)
    def nRows = {
      val m = ManifestCommit.current(conf, dir)
      ManifestTiered.read(spark, dir, m, "bands", Dedup.BandsSchema).count()
    }
    val before = nRows
    Dedup.appendMinHashIndex(delta, dir, batchId = Some("crawl-7"))
    val once = nRows
    assert(once > before)
    // at-least-once redelivery of the same batch: a no-op, not a double-append
    Dedup.appendMinHashIndex(delta, dir, batchId = Some("crawl-7"))
    assert(nRows == once, "re-driven committed batch must not double-append")
    assert(ManifestCommit.isBatchCommitted(conf, dir, "crawl-7"))
    // still a no-op after an unrelated append advanced the snapshot
    Dedup.appendMinHashIndex(
      delta.withColumn("doc_id", col("doc_id") + 3000000L), dir,
      batchId = Some("crawl-8"))
    val grown = nRows
    Dedup.appendMinHashIndex(delta, dir, batchId = Some("crawl-7"))
    assert(nRows == grown, "an old committed batch must stay a no-op")
  }

  test("compaction folds deltas + re-lays tiers; probes are identical before/after; vacuum reclaims") {
    assume(sf.isDefined)
    val corpus = graft.util.Tables(spark, sf.get, "documents")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_k").toString
    Dedup.saveMinHashIndex(corpus.filter(col("doc_id") % 3 === 0), dir)
    Dedup.appendMinHashIndex(corpus.filter(col("doc_id") % 3 === 1), dir,
      batchId = Some("c1"))
    Dedup.appendMinHashIndex(corpus.filter(col("doc_id") % 3 === 2), dir,
      batchId = Some("c2"))
    val probe = corpus.filter(col("doc_id") < 5)
    def hits = Dedup.dedupAgainstMinHashIndex(probe, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def files() = {
      val c = new java.util.concurrent.atomic.AtomicLong()
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .forEach(p => if (p.toString.endsWith(".parquet")) { c.incrementAndGet(); () })
      c.get()
    }
    val hitsBefore = hits
    val totalBefore = files()
    assert(ManifestCommit.current(conf, dir)
      .rows(ManifestTiered.tailTable("bands")) > 0,
      "appends must have landed in the tail")

    // the inline-vacuum arm (grace 0: everything superseded is fair game)
    Dedup.compactMinHashIndex(spark, dir)
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)

    assert(hits == hitsBefore && hits.nonEmpty,
      "compaction + vacuum must not change probe results")
    val m = ManifestCommit.current(conf, dir)
    // the tail folded into a level-1 run; vacuum dropped the superseded
    // tail dirs, so the physical file count shrinks too
    assert(m.rows(ManifestTiered.tailTable("bands")) == 0 &&
      m.rows(ManifestTiered.tailTable("sigs")) == 0,
      "tails must be empty after compaction")
    assert(files() < totalBefore,
      s"vacuum must reclaim superseded dirs (${files()} vs $totalBefore)")
    // committed tokens + meta survive; appends keep working after compact
    assert(m.isCommitted("c1") && m.isCommitted("c2"))
    Dedup.appendMinHashIndex(probe.withColumn("doc_id", col("doc_id") + 5000000L),
      dir, batchId = Some("c3"))
    assert(Dedup.dedupAgainstMinHashIndex(
      probe.withColumn("doc_id", col("doc_id") + 6000000L), dir)
      .collect().nonEmpty)
  }

  test("degenerate index bucket probes via its min-id anchor, not all-pairs") {
    import spark.implicits._
    // 300 identical docs (> the 256 bucket cap): every band bucket goes
    // degenerate — the pathological boilerplate-accumulation case
    val tpl = (1 to 60).map(i => s"boiler plate token$i").mkString(" ")
    val massDup = (0L until 300L).map(i => (i, tpl, "en", "src", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_hot").toString
    Dedup.saveMinHashIndex(massDup, dir)
    val twin = Seq((9000L, tpl, "en", "src", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val hits = Dedup.dedupAgainstMinHashIndex(twin, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the dup IS found (est 1.0) but against exactly ONE witness — the
    // bucket's min-id anchor — instead of 300 pairs
    assert(hits.toSeq == Seq((9000L, 0L, 1.0)),
      s"expected the single anchor witness, got ${hits.toSeq}")
  }
}
