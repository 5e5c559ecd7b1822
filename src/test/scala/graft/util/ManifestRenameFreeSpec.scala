package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical rename-freedom proof (the r14 verdict's #2 directive):
  * every persisted index runs its FULL manifest-protocol lifecycle —
  * build → append → probe → compact → vacuum → probe — on
  * [[BanRenameFs]] (`banfs://`), a FileSystem that THROWS on any
  * `rename()` outside writer-local `_temporary/` committer staging and
  * on any `append()`. Green here pins the protocol against a future
  * "convenient rename" regression forever, and the create audit pins
  * the CAS: every `_manifests/m*` create must be overwrite=false.
  * Results are cross-checked against the same lifecycle on local disk
  * — the store must be invisible to the answers. Each lifecycle also
  * points every entry point at a NEVER-BUILT sibling dir, which must
  * fail loudly by name instead of reading as an empty index.
  */
class ManifestRenameFreeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    ObjectStoreFs.install(s.sparkContext.hadoopConfiguration)
    s
  }

  private def conf = spark.sessionState.newHadoopConf()

  private def sf: Option[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .find(d => new java.io.File(d).exists())

  private def banTmp(p: String): String =
    s"banfs://${java.nio.file.Files.createTempDirectory(p)}"
  private def locTmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def assertClean(): Unit = {
    assert(BanRenameFs.bannedRenames.get() == 0L)
    assert(!BanRenameFs.manifestCreates.isEmpty,
      "the lifecycle must have published manifests on banfs://")
    import scala.jdk.CollectionConverters._
    BanRenameFs.manifestCreates.asScala.foreach { case (p, overwrite) =>
      assert(!overwrite, s"manifest created WITH overwrite: $p")
    }
  }

  /** Every probe / append / compact entry point in `calls`, plus the
    * streaming drain's batch-id gate, must throw on `dir` (a dir with
    * no published index) with a message naming it.
    */
  private def assertRefusesNeverBuilt(dir: String)(calls: (() => Any)*): Unit =
    (calls :+ (() => graft.streaming.DrainIds.pending(conf, dir, s"$dir-ckpt", 0L)))
      .foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(dir), e.getMessage)
      }

  /** A MinHash dir holding only the params marker — a first build that
    * crashed before its publish. Without the marker the meta check
    * alone would refuse it, hiding the missing-index gate.
    */
  private def markerOnly(built: String, dir: String): String = {
    val src = new org.apache.hadoop.fs.Path(built, "_graft_minhash_meta")
    val dst = new org.apache.hadoop.fs.Path(dir, "_graft_minhash_meta")
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
      dst.getFileSystem(conf), dst, false, conf)
    dir
  }

  private def assertMinHashRefuses(dir: String, docs: DataFrame): Unit =
    assertRefusesNeverBuilt(dir)(
      () => graft.dedup.Dedup.dedupAgainstMinHashIndex(docs, dir),
      () => graft.dedup.Dedup.appendMinHashIndex(docs, dir),
      () => graft.dedup.Dedup.probeAndAppendMinHashIndex(docs, dir, s"$dir-hits"),
      () => graft.dedup.Dedup.compactMinHashIndex(spark, dir))

  private def assertBm25Refuses(dir: String, docs: DataFrame): Unit =
    assertRefusesNeverBuilt(dir)(
      () => graft.text.InvertedIndex.probe(spark, dir, Seq("the")),
      () => graft.text.InvertedIndex.appendDelta(docs, dir),
      () => graft.text.InvertedIndex.compact(spark, dir))

  private def assertIvfRefuses(dir: String, vecs: DataFrame): Unit =
    assertRefusesNeverBuilt(dir)(
      () => graft.vector.VectorOps.loadIvfIndex(spark, dir),
      () => graft.vector.VectorOps.appendIvfIndex(vecs, dir),
      () => graft.vector.VectorOps.compactIvfIndex(spark, dir),
      () => graft.vector.PqOps.loadPqIndex(spark, dir),
      () => graft.vector.PqOps.addToPqIndex(vecs, dir))

  test("minhash index lifecycle is rename-free on an object store") {
    assume(sf.isDefined)
    BanRenameFs.reset()
    val corpus = Tables(spark, sf.get, "documents")
    val oldCrawl = corpus.filter(col("doc_id") % 3 =!= 0)
    val delta = corpus.filter(col("doc_id") % 3 === 0)
    val probe = corpus.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 9000000L)
    def hits(d: String): Set[(Long, Long)] =
      graft.dedup.Dedup.dedupAgainstMinHashIndex(probe, d)
        .select(col("new_id"), col("idx_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ban = banTmp("rf_mh")
    val loc = locTmp("rf_mh_loc")
    Seq(ban, loc).foreach { d =>
      // Auto resolves Manifest on both (banfs via capability)
      graft.dedup.Dedup.saveMinHashIndex(oldCrawl, d)
      graft.dedup.Dedup.appendMinHashIndex(delta, d, batchId = Some("c1"))
    }
    assert(ManifestCommit.exists(conf, ban))
    assert(hits(ban) == hits(loc) && hits(ban).nonEmpty)
    graft.dedup.Dedup.compactMinHashIndex(spark, ban)
    ManifestCommit.vacuum(conf, ban, keepGens = 1, graceMs = 0L)
    assert(hits(ban) == hits(loc), "compact+vacuum changed probe results")
    assertClean()
    assertMinHashRefuses(s"$ban-never", delta)
    assertMinHashRefuses(markerOnly(ban, s"$ban-crashed"), delta)
  }

  test("bm25 index lifecycle is rename-free on an object store") {
    assume(sf.isDefined)
    BanRenameFs.reset()
    val corpus = Tables(spark, sf.get, "documents")
      .filter(col("text").isNotNull)
    val oldCrawl = corpus.filter(col("doc_id") % 3 =!= 0)
    val delta = corpus.filter(col("doc_id") % 3 === 0)
    val terms = Seq("the", "data", "model")
    def topk(d: String): Seq[(String, Long, Double)] =
      graft.text.InvertedIndex.probe(spark, d, terms, k = 10)
        .select(col("term"), col("doc_id"), col("score"))
        .orderBy(col("term"), col("score").desc, col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq

    val ban = banTmp("rf_bm")
    val loc = locTmp("rf_bm_loc")
    Seq(ban, loc).foreach { d =>
      graft.text.InvertedIndex.save(oldCrawl, d)
      graft.text.InvertedIndex.appendDelta(delta, d, batchId = Some("c1"))
    }
    assert(topk(ban) == topk(loc) && topk(ban).nonEmpty)
    graft.text.InvertedIndex.compact(spark, ban)
    ManifestCommit.vacuum(conf, ban, keepGens = 1, graceMs = 0L)
    assert(topk(ban) == topk(loc), "compact+vacuum changed probe results")
    assertClean()
    assertBm25Refuses(s"$ban-never", delta)
  }

  test("ivf index lifecycle is rename-free on an object store") {
    assume(sf.isDefined)
    BanRenameFs.reset()
    val c = Tables(spark, sf.get, "embeddings")
    val old80 = c.filter(col("vec_id") % 5 =!= 0)
    val delta = c.filter(col("vec_id") % 5 === 0)
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def topk(d: String): Set[(Long, Long, Int)] =
      graft.vector.VectorOps.annIvfIndexed(q,
        graft.vector.VectorOps.loadIvfIndex(spark, d))
        .select(col("q_id"), col("vec_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val ban = banTmp("rf_ivf")
    // (no local twin: k-means training is deterministic only per
    // planning instance — the cross-protocol equality is pinned at
    // depth by MaintenanceCurve/SCALE.md; here the invariant is the
    // store: rename-free lifecycle, probe stable across maintenance)
    graft.vector.VectorOps.saveIvfIndex(old80, ban, k = 10, iters = 2)
    graft.vector.VectorOps.appendIvfIndex(delta, ban, batchId = Some("c1"))
    val before = topk(ban)
    assert(before.nonEmpty)
    graft.vector.VectorOps.compactIvfIndex(spark, ban)
    ManifestCommit.vacuum(conf, ban, keepGens = 1, graceMs = 0L)
    assert(topk(ban) == before, "compact+vacuum changed probe results")
    assertClean()
    assertIvfRefuses(s"$ban-never", delta)
  }

  test("a never-built local dir is refused by every index entry point") {
    assume(sf.isDefined)
    val docs = Tables(spark, sf.get, "documents").filter(col("doc_id") < 30)
    val vecs = Tables(spark, sf.get, "embeddings").filter(col("vec_id") < 30)
    val built = locTmp("nb_mh_built")
    graft.dedup.Dedup.saveMinHashIndex(docs, built)
    val root = locTmp("nb_loc")
    assertMinHashRefuses(s"$root/minhash", docs)
    assertMinHashRefuses(markerOnly(built, s"$root/crashed"), docs)
    assertBm25Refuses(s"$root/bm25", docs)
    assertIvfRefuses(s"$root/ivf", vecs)
  }
}
