package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** The BM25 inverted index on the versioned-manifest (object-store)
  * commit protocol: build / delta fold / compact / probe through the
  * public entry points, score-identical to a from-scratch build — and
  * with the postings-tail + terms + stats triple landing in ONE
  * manifest publish (cross-table atomicity without a shared marker).
  */
class Bm25ManifestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private def sf: Option[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .find(d => new java.io.File(d).exists())

  private val terms = Seq("join", "vector", "filter", "dup")

  private def scores(dir: String): Set[(String, Long, Double, Int)] =
    InvertedIndex.probe(spark, dir, terms)
      .select(col("term"), col("doc_id"), col("score"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("manifest build + fold + compact probes score-identical to a from-scratch build") {
    assume(sf.isDefined)
    val docs = graft.util.Tables(spark, sf.get, "documents")
    val mDir = java.nio.file.Files.createTempDirectory("bm25_mani").toString
    val rDir = java.nio.file.Files.createTempDirectory("bm25_scr").toString
    // from-scratch full build — the truth the folded index must equal
    InvertedIndex.save(docs, rDir)
    val want = scores(rDir)
    assert(want.nonEmpty)
    // manifest: 80% build + 20% fold (+ retry) + Minor compact
    InvertedIndex.save(docs.filter(col("doc_id") % 5 =!= 0), mDir)
    assert(ManifestCommit.exists(conf, mDir))
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), mDir,
      batchId = Some("fold-1"))
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), mDir,
      batchId = Some("fold-1")) // retry no-ops
    assert(ManifestCommit.isBatchCommitted(conf, mDir, "fold-1"))
    assert(scores(mDir) == want,
      "manifest fold must be indistinguishable from a from-scratch build")
    val m0 = ManifestCommit.current(conf, mDir)
    assert(m0.rows(ManifestTiered.tailTable("postings")) > 0L)
    InvertedIndex.compact(spark, mDir)
    val m1 = ManifestCommit.current(conf, mDir)
    assert(m1.rows(ManifestTiered.tailTable("postings")) == 0L)
    assert(m1.entries(ManifestTiered.l1Table("postings")).size == 1)
    assert(m1.rows(ManifestTiered.l1Table("postings")) ==
      m0.rows(ManifestTiered.tailTable("postings")), "Minor folds exactly the tail")
    assert(scores(mDir) == want, "compaction changed retrieval")
    InvertedIndex.compact(spark, mDir)
    assert(ManifestCommit.current(conf, mDir).gen == m1.gen, "NoOp must not publish")
  }

  test("a fold into a never-built manifest dir fails loudly instead of committing an empty-stats index") {
    assume(sf.isDefined)
    val docs = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 100)
    val dir = java.nio.file.Files.createTempDirectory("bm25_nobuild").toString
    // make the dir resolve as manifest-protocol without a build (what
    // a mistyped object-store path looks like)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_manifests"))
    val e = intercept[IllegalStateException] {
      InvertedIndex.appendDelta(docs, dir, batchId = Some("b1"))
    }
    assert(e.getMessage.contains("save"), e.getMessage)
    assert(ManifestCommit.current(conf, dir).gen == 0L,
      "the refused fold must publish nothing")
  }

  test("a fold publish is all-or-nothing: terms/stats/postings move as one snapshot") {
    assume(sf.isDefined)
    val docs = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("bm25_mani_a").toString
    InvertedIndex.save(docs.filter(col("doc_id") % 2 === 0), dir)
    val before = scores(dir)
    val m0 = ManifestCommit.current(conf, dir)
    // crash between lay and publish: fresh dirs exist for all three
    // tables, no manifest — probes must keep resolving the OLD terms +
    // OLD stats + OLD postings (never a mix)
    val orphanTerms = ManifestCommit.newDataDir(dir, "terms")
    docs.limit(0)
      .select(lit("x").as("term"), lit(999L).as("df"), lit(0L).as("bucket"))
      .write.parquet(s"$dir/$orphanTerms")
    assert(scores(dir) == before, "unpublished table dirs leaked into a probe")
    assert(ManifestCommit.current(conf, dir).gen == m0.gen)
    // the real fold lands, replacing terms/stats and appending postings
    // tail in ONE generation
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1), dir,
      batchId = Some("fold-2"))
    val m1 = ManifestCommit.current(conf, dir)
    assert(m1.gen == m0.gen + 1, "the fold must be exactly one publish")
    assert(m1.table("terms") != m0.table("terms") &&
      m1.table("stats") != m0.table("stats"))
    val scratch = java.nio.file.Files.createTempDirectory("bm25_mani_s").toString
    InvertedIndex.save(docs, scratch)
    assert(scores(dir) == scores(scratch))
  }

  test("AS-OF probes score against a retained historical generation") {
    assume(sf.isDefined)
    val docs = graft.util.Tables(spark, sf.get, "documents")
      .filter(col("doc_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("bm25_asof").toString
    InvertedIndex.save(docs.filter(col("doc_id") % 5 =!= 0), dir)
    val g1 = ManifestCommit.current(conf, dir).gen
    val before = scores(dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), dir,
      batchId = Some("fold-1"))
    assert(scores(dir) != before, "the fold must change current scores")
    val asOf = InvertedIndex.probe(spark, dir, terms, asOfGen = Some(g1))
      .select(col("term"), col("doc_id"), col("score"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(asOf == before,
      "the AS-OF probe must reproduce the pre-fold scores exactly")
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.probe(spark, dir, terms, asOfGen = Some(g1)).count()
    }
    assert(e.getMessage.contains("retained generations"))
  }
}
