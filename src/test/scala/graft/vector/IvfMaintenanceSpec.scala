package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** Exactly-once + tiered-compaction contract of the persisted IVF
  * index family, on the versioned-manifest commit protocol (the
  * rename bodies are retired; IvfManifestSpec holds the
  * publish-atomicity and migration cases). Probe results must be
  * identical across every tier state; the PQ flavor's two stores
  * (vectors + codes) must commit as one snapshot; a commuting append
  * retry must never land rows coded under a superseded rebuild.
  */
class IvfMaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dim = 64

  private def conf = spark.sessionState.newHadoopConf()

  /** Deterministic synthetic vectors: id `from until from+n`. */
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

  private def visible(dir: String): Long =
    VectorOps.loadIvfIndex(spark, dir).vectors.count()

  private def m(dir: String) = ManifestCommit.current(conf, dir)

  private def baseFiles(dir: String): Map[String, Long] = {
    val b = scala.collection.mutable.Map[String, Long]()
    java.nio.file.Files.walk(
      java.nio.file.Paths.get(dir, m(dir).table("vectors").head))
      .filter(_.toString.endsWith(".parquet"))
      .forEach(p => b(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis)
    b.toMap
  }

  private def runsOf(dir: String): Seq[String] =
    m(dir).table(ManifestTiered.l1Table("vectors"))

  private def tailRows(dir: String): Long =
    m(dir).rows(ManifestTiered.tailTable("vectors"))

  test("append is exactly-once: a re-driven batch id is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_once").toString
    VectorOps.saveIvfIndex(vecs(0, 80), dir, k = 4, iters = 2)
    VectorOps.appendIvfIndex(vecs(80, 20), dir, batchId = Some("b1"))
    assert(visible(dir) == 100)
    val r0 = probe(dir)
    // the foreachBatch-retry / re-run-CLI scenario: same batch again
    VectorOps.appendIvfIndex(vecs(80, 20), dir, batchId = Some("b1"))
    assert(visible(dir) == 100, "retried batch double-appended")
    assert(probe(dir) == r0)
    // a NEW batch id still appends
    VectorOps.appendIvfIndex(vecs(100, 20), dir, batchId = Some("b2"))
    assert(visible(dir) == 120)
  }

  test("tiered compaction: minor folds only the tail, major trips at the size ratio, probes identical") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_tier").toString
    VectorOps.saveIvfIndex(vecs(0, 60), dir, k = 4, iters = 2)
    val base0 = baseFiles(dir)
    val truthCents = VectorOps.loadIvfIndex(spark, dir).centroids
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

    // cycle 1: tail 20 < base 60 → Minor (one run, base untouched)
    VectorOps.appendIvfIndex(vecs(60, 20), dir, batchId = Some("c1"))
    val r1 = probe(dir)
    VectorOps.compactIvfIndex(spark, dir)
    assert(runsOf(dir).size == 1 && tailRows(dir) == 0)
    assert(baseFiles(dir) == base0, "minor fold must not touch base files")
    assert(probe(dir) == r1, "compaction changed probe results")

    // cycle 2: l1 20 + tail 20 = 40 < 60 → Minor again (second run)
    VectorOps.appendIvfIndex(vecs(80, 20), dir, batchId = Some("c2"))
    val r2 = probe(dir)
    VectorOps.compactIvfIndex(spark, dir)
    assert(runsOf(dir).size == 2)
    assert(baseFiles(dir) == base0)
    assert(probe(dir) == r2)

    // cycle 3: l1 40 + tail 20 = 60 ≥ base 60 → MAJOR: one re-laid base
    VectorOps.appendIvfIndex(vecs(100, 20), dir, batchId = Some("c3"))
    val r3 = probe(dir)
    VectorOps.compactIvfIndex(spark, dir)
    assert(runsOf(dir).isEmpty && tailRows(dir) == 0)
    assert(baseFiles(dir) != base0, "major compaction rewrites the base")
    assert(probe(dir) == r3)
    assert(visible(dir) == 120)
    // the folded index still row-equals assigning everything against
    // the train-once centroids (the FAISS add contract, post-compact)
    val got = VectorOps.loadIvfIndex(spark, dir).vectors
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorOps.assignCells(vecs(0, 120), truthCents)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // compaction is a NoOp when there is nothing to fold — no new
    // generation is published
    val gen0 = m(dir).gen
    VectorOps.compactIvfIndex(spark, dir)
    assert(m(dir).gen == gen0)
  }

  test("PQ flavor: vectors and codes commit as ONE snapshot, fold together") {
    val dir = java.nio.file.Files.createTempDirectory("pq_pair").toString
    PqOps.savePqIndex(vecs(0, 80), dir, k = 4, iters = 2)
    PqOps.addToPqIndex(vecs(80, 20), dir, batchId = Some("b1"))
    PqOps.addToPqIndex(vecs(80, 20), dir, batchId = Some("b1")) // retry no-ops
    val idx = PqOps.loadPqIndex(spark, dir)
    assert(idx.vectors.count() == 100 && idx.codes.count() == 100,
      "vectors/codes counts diverged — the pair did not commit atomically")
    val r0 = PqOps.annPqIndexed(queries(5), idx, topk = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    VectorOps.compactIvfIndex(spark, dir) // folds BOTH stores in one publish
    assert(tailRows(dir) == 0)
    assert(m(dir).rows(ManifestTiered.tailTable("codes")) == 0)
    val idx1 = PqOps.loadPqIndex(spark, dir)
    assert(idx1.vectors.count() == 100 && idx1.codes.count() == 100)
    val r1 = PqOps.annPqIndexed(queries(5), idx1, topk = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(r1 == r0, "compaction changed PQ probe results")
  }

  test("a FLAT rebuild over a former PQ dir drops the stale codes/codebooks generation") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_downgrade").toString
    PqOps.savePqIndex(vecs(0, 120), dir, k = 4, iters = 2)
    assert(m(dir).entries("codes").nonEmpty)
    // rebuild as a FLAT index: saveIvfIndex never writes codes, so a
    // snapshot that kept the old codes/codebooks tables would make the
    // dir still read as a PQ index and silently join the OLD
    // generation's codes against the NEW vectors
    VectorOps.saveIvfIndex(vecs(0, 140), dir, k = 4, iters = 2)
    val cur = m(dir)
    Seq("codes", ManifestTiered.l1Table("codes"),
      ManifestTiered.tailTable("codes"), "codebooks").foreach { t =>
      assert(cur.entries(t).isEmpty,
        s"stale PQ table '$t' survived a flat rebuild's snapshot")
    }
    // loading it as PQ must fail loudly, never yield garbage ADC scores
    val e = intercept[IllegalArgumentException] {
      PqOps.loadPqIndex(spark, dir)
    }
    assert(e.getMessage.contains("not a PQ index"))
    assert(VectorOps.loadIvfIndex(spark, dir).vectors.count() == 140)
  }

  test("manifest append: a commuting retry across a racing REBUILD fails " +
      "loudly instead of landing rows coded under superseded centroids") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild_race").toString
    VectorOps.saveIvfIndex(vecs(0, 80), dir, k = 4, iters = 2)
    val base = ManifestCommit.current(conf, dir)
    // the appender's batch was cell-assigned under base's centroids;
    // before its publish lands, a REBUILD retrains and replaces them
    VectorOps.saveIvfIndex(vecs(0, 120), dir, k = 8, iters = 2)
    val batch = vecs(200, 10).withColumn("cell", lit(0L))
    val e = intercept[IllegalStateException] {
      IvfMaintenance.appendManifest(spark, dir, batch, None,
        batchId = Some("race1"), commuting = true, at = Some(base))
    }
    assert(e.getMessage.contains("concurrent rebuild"), e.getMessage)
    // nothing from the vetoed batch is visible, and the batch id was
    // never committed — the re-driven (re-assigned) append still runs
    val cur = ManifestCommit.current(conf, dir)
    assert(cur.rows(ManifestTiered.tailTable("vectors")) == 0L)
    assert(!cur.isCommitted("race1"))
    // a commuting retry across a mere racing APPEND still lands: both
    // writers resolved the SAME post-rebuild base (centroids unchanged
    // between that base and the retry's re-resolve)
    IvfMaintenance.appendManifest(spark, dir, batch, None,
      batchId = Some("a1"), commuting = true, at = Some(cur))
    IvfMaintenance.appendManifest(spark, dir,
      vecs(210, 10).withColumn("cell", lit(1L)), None,
      batchId = Some("a2"), commuting = true, at = Some(cur))
    val fin = ManifestCommit.current(conf, dir)
    assert(fin.isCommitted("a1") && fin.isCommitted("a2"))
    assert(fin.rows(ManifestTiered.tailTable("vectors")) == 20L)
    assert(fin.gen == cur.gen + 2, "one generation per append, none lost")
  }
}
