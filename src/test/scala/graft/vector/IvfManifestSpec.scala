package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** The IVF index family on the versioned-manifest (object-store)
  * commit protocol, through the SAME public entry points (saveIvfIndex
  * / appendIvfIndex / compactIvfIndex / loadIvfIndex, plus the PQ
  * flavor): probe results must be identical across tier states and
  * retries. ManifestCommitSpec holds the primitive-level
  * guarantees; MinHashManifestSpec covers snapshot isolation and crash
  * orphans on the shared machinery.
  */
class IvfManifestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private val Dim = 64

  private def vecs(from: Long, n: Long): DataFrame = {
    import spark.implicits._
    (from until from + n).map { i =>
      (i, Array.tabulate(Dim)(j => (((i * 31 + j * 7) % 97).toFloat - 48f) / 48f))
    }.toDF("vec_id", "embedding")
  }

  private def queries(n: Int): DataFrame =
    vecs(0, n).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def probe(dir: String): Set[(Long, Long, Int)] =
    VectorOps.annIvfIndexed(queries(5), VectorOps.loadIvfIndex(spark, dir), topk = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

  test("manifest build + exactly-once append row-equal a same-centroid assignment of the full corpus") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_mani").toString
    VectorOps.saveIvfIndex(vecs(0, 80), dir, k = 4, iters = 2)
    assert(ManifestCommit.exists(conf, dir))
    VectorOps.appendIvfIndex(vecs(80, 20), dir, batchId = Some("b1"))
    // the foreachBatch-retry / re-run-CLI scenario: same batch again
    VectorOps.appendIvfIndex(vecs(80, 20), dir, batchId = Some("b1"))
    val idx = VectorOps.loadIvfIndex(spark, dir)
    assert(idx.vectors.count() == 100, "retried batch double-appended")
    // the FAISS add-without-retrain invariant, protocol-independent:
    // base ∪ tail row-equals assigning the FULL corpus against the
    // index's own centroids
    val cents = idx.centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val expect = VectorOps.assignCells(vecs(0, 100), cents)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = idx.vectors.select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
  }

  test("compaction folds the tail into a flat sorted run and is invisible to probes") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_mani_c").toString
    VectorOps.saveIvfIndex(vecs(0, 160), dir, k = 4, iters = 2)
    VectorOps.appendIvfIndex(vecs(160, 20), dir, batchId = Some("b1"))
    val before = probe(dir)
    assert(before.nonEmpty)
    val m0 = ManifestCommit.current(conf, dir)
    assert(m0.rows(ManifestTiered.tailTable("vectors")) == 20L)
    VectorOps.compactIvfIndex(spark, dir) // tail 20 < base 160 → Minor
    val m1 = ManifestCommit.current(conf, dir)
    assert(m1.rows(ManifestTiered.tailTable("vectors")) == 0L)
    assert(m1.entries(ManifestTiered.l1Table("vectors")).size == 1)
    assert(m1.rows(ManifestTiered.l1Table("vectors")) == 20L,
      "Minor folds exactly the tail")
    assert(m1.rows("vectors") == 160L, "the base is never rewritten by a Minor")
    assert(probe(dir) == before, "compaction changed probe results")
    VectorOps.compactIvfIndex(spark, dir) // nothing left to fold
    assert(ManifestCommit.current(conf, dir).gen == m1.gen, "NoOp must not publish")
  }

  test("PQ flavor: vectors and codes fold atomically in one publish; ADC probes survive compaction") {
    val dir = java.nio.file.Files.createTempDirectory("pq_mani").toString
    PqOps.savePqIndex(vecs(0, 160), dir, k = 4, iters = 2)
    PqOps.addToPqIndex(vecs(160, 20), dir, batchId = Some("b1"))
    PqOps.addToPqIndex(vecs(160, 20), dir, batchId = Some("b1")) // retry no-ops
    val idx0 = PqOps.loadPqIndex(spark, dir)
    assert(idx0.vectors.count() == 180 && idx0.codes.count() == 180,
      "vectors/codes must take the batch as a pair, exactly once")
    def adc() = PqOps.annPqIndexed(queries(5), PqOps.loadPqIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val before = adc()
    assert(before.nonEmpty)
    VectorOps.compactIvfIndex(spark, dir) // Minor: folds BOTH tails
    val m1 = ManifestCommit.current(conf, dir)
    assert(m1.rows(ManifestTiered.tailTable("vectors")) == 0L &&
      m1.rows(ManifestTiered.tailTable("codes")) == 0L,
      "both tails must empty under the same publish")
    assert(m1.rows(ManifestTiered.l1Table("vectors")) == 20L &&
      m1.rows(ManifestTiered.l1Table("codes")) == 20L)
    assert(adc() == before, "compaction changed ADC probe results")
  }

  test("AS-OF loads probe a retained historical generation") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_asof").toString
    VectorOps.saveIvfIndex(vecs(0, 80), dir, k = 4, iters = 2)
    val g1 = ManifestCommit.current(conf, dir).gen
    val before = probe(dir)
    VectorOps.appendIvfIndex(vecs(80, 40), dir, batchId = Some("b1"))
    assert(probe(dir) != before, "the add must change current neighbors")
    val asOfIdx = VectorOps.loadIvfIndex(spark, dir, asOfGen = Some(g1))
    assert(asOfIdx.vectors.count() == 80,
      "the AS-OF snapshot must see only the pre-add vectors")
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    intercept[IllegalArgumentException] {
      VectorOps.loadIvfIndex(spark, dir, asOfGen = Some(g1)).vectors.count()
    }
  }
}
