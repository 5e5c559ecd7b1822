package graft.text

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** The persisted inverted index must reproduce the direct text_bm25
  * computation exactly, and a probe must scan only the probed terms'
  * bucket directories (static partition pruning) — the property that
  * makes the index the 100 TB path: query cost follows the probed
  * postings, not the corpus. All lifecycles run the versioned-manifest
  * commit protocol (the rename bodies are retired; Bm25ManifestSpec
  * holds the protocol-level publish/migration cases).
  */
class Bm25IndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def conf = spark.sessionState.newHadoopConf()

  private def baseDir(dir: String): String =
    s"$dir/${ManifestCommit.current(conf, dir).table("postings").head}"

  private def tailRows(dir: String): Long =
    ManifestCommit.current(conf, dir)
      .rows(ManifestTiered.tailTable("postings"))

  test("index probe reproduces the direct text_bm25 result exactly") {
    val direct = graft.SparkEntry.queries("text_bm25")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val viaIdx = graft.SparkEntry.queries("bm25_index_topk")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaIdx == direct)
    assert(direct.nonEmpty)
  }

  test("probe plan prunes to the probed terms' buckets") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    InvertedIndex.save(graft.util.Tables(spark, sf, "documents"), dir)
    val probe = InvertedIndex.probe(spark, dir, Seq("join", "dup"))
    val planStr = probe.queryExecution.executedPlan.toString
    val partFilters = """PartitionFilters: \[([^\]]*)\]""".r
      .findAllMatchIn(planStr).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("bucket") && f.trim.nonEmpty),
      s"no non-empty bucket partition filter on the index scan in:\n$planStr")
    // the term equi-filter must also reach the parquet scan
    assert(planStr.contains("PushedFilters") && planStr.contains("term"),
      s"term filter not pushed to the postings scan:\n$planStr")
    // 2 probe terms can touch at most 2 of the 64 bucket directories
    val postRoot = java.nio.file.Paths.get(baseDir(dir))
    val st = java.nio.file.Files.list(postRoot)
    val nBuckets = try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.count(_.getFileName.toString.startsWith("bucket="))
    } finally st.close()
    assert(nBuckets > 2, s"fixture vocabulary too small to prove pruning ($nBuckets buckets)")
  }

  test("stats hold exact integer sums so avgdl is reproducible") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx2").toString
    InvertedIndex.save(graft.util.Tables(spark, sf, "documents"), dir)
    val stats = InvertedIndex.readStats(spark, dir).collect()
    assert(stats.length == 1)
    assert(stats(0).getLong(0) > 0 && stats(0).getLong(1) > 0)
  }

  test("appendDelta is append-only on postings and equals a from-scratch build") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables(spark, sf, "documents")
    val merged = java.nio.file.Files.createTempDirectory("bm25_m").toString
    InvertedIndex.save(docs.filter(col("doc_id") % 5 =!= 0), merged)
    val base = baseDir(merged)
    def postingsFiles = {
      val b = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(base))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => b(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis)
      b.toMap
    }
    val before = postingsFiles
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), merged)
    val after = postingsFiles
    // every base postings file survives the merge byte-untouched; the
    // delta lands in the flat level-0 tail (compact owns the re-layout)
    assert(after == before, "base postings files changed by a fold")
    assert(tailRows(merged) > 0, "no delta postings were appended to the tail")

    val scratch = java.nio.file.Files.createTempDirectory("bm25_s").toString
    InvertedIndex.save(docs, scratch)
    val terms = Seq("join", "vector", "filter", "dup")
    val got = InvertedIndex.probe(spark, merged, terms)
      .collect().map(_.toSeq).toSet
    val want = InvertedIndex.probe(spark, scratch, terms)
      .collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("compact folds the tail into a pruned level-1 run; probes identical") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_c").toString
    InvertedIndex.save(docs.filter(col("doc_id") % 5 >= 3), dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 2), dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 1), dir)
    val base0 = baseDir(dir)
    def baseFiles = {
      val b = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(base0))
        .filter(_.toString.endsWith(".parquet"))
        .forEach(p => b(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis)
      b.toMap
    }
    val terms = Seq("join", "vector", "filter", "dup")
    def topk = InvertedIndex.probe(spark, dir, terms).collect().map(_.toSeq).toSet
    val (hitsBefore, files0) = (topk, baseFiles)
    assert(tailRows(dir) > 0, "two folds must leave tail rows")

    // tail (2/5 of docs) < base (3/5) → Minor: one new run, base intact
    InvertedIndex.compact(spark, dir)

    val m = ManifestCommit.current(conf, dir)
    assert(tailRows(dir) == 0, "minor fold must empty the tail")
    assert(m.entries(ManifestTiered.l1Table("postings")).size == 1,
      "minor fold must add exactly one level-1 run")
    assert(m.table("postings") == Seq(base0.stripPrefix(s"$dir/")) &&
      baseFiles == files0, "minor fold must not touch base files")
    assert(topk == hitsBefore && topk.nonEmpty,
      "compaction must be invisible to retrieval")
    // maintenance keeps composing: folding the last shard into the
    // compacted index still matches a from-scratch full-corpus build
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), dir)
    val scratch = java.nio.file.Files.createTempDirectory("bm25_cs").toString
    InvertedIndex.save(docs, scratch)
    assert(topk == InvertedIndex.probe(spark, scratch, terms).collect().map(_.toSeq).toSet)
    // a second cycle folds the new tail too (Minor or Major depending
    // on the shards' exact row counts — the size policy decides); the
    // probe must hold across whichever tier state it lands in
    InvertedIndex.compact(spark, dir)
    assert(tailRows(dir) == 0)
    assert(topk == InvertedIndex.probe(spark, scratch, terms).collect().map(_.toSeq).toSet)
  }

  test("a registered compact probe returns rows that outlive the next invocation's vacuum") {
    val q = graft.SparkEntry.queries("bm25_index_compact_topk")
    val held = q(spark, sf)
    val second = q(spark, sf).collect().toSet
    val (idx, _) = InvertedIndex.sessionFoldedIndex(spark, sf)
    // drops the first invocation's compaction dirs: the rewind dropped
    // its generation, and no grace window shields them any more
    graft.util.WorkLocks.sync(idx) {
      ManifestCommit.vacuum(conf, idx, keepGens = 2, graceMs = 0L)
    }
    assert(held.collect().toSet == second && second.nonEmpty)
  }

  test("the three maintenance queries share one fixture build and score like a full build") {
    // a private sf dir: the build count is per dir, and no other suite reads this one
    val sfDir = java.nio.file.Files.createTempDirectory("bm25_fixture_sf").toString
    val rng = new java.util.Random(20261022L)
    val vocab = Seq("join", "vector", "filter", "dup") ++ (0 until 200).map(i => s"w$i")
    spark.createDataFrame((0L until 400L).map(i =>
      (i, Seq.fill(5 + rng.nextInt(30))(vocab(rng.nextInt(vocab.size))).mkString(" "))))
      .toDF("doc_id", "text").write.parquet(s"$sfDir/documents.parquet")
    def run(q: String) = graft.SparkEntry.queries(q)(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = run("bm25_index_topk")
    assert(want.nonEmpty)
    for (_ <- 1 to 2; q <- Seq("bm25_index_merge_topk", "bm25_index_compact_topk",
        "bm25_index_manifest_topk"))
      assert(run(q) == want, s"$q differs from a full build")
    assert(InvertedIndex.fixtureBuilds.get(sfDir) == 1,
      s"fixture builds for one sf dir: ${InvertedIndex.fixtureBuilds.get(sfDir)}")
  }

  test("appendDelta is exactly-once under a batch id, even after later folds") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_once").toString
    InvertedIndex.save(docs.filter(col("doc_id") % 5 =!= 0), dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), dir,
      batchId = Some("b1"))
    val terms = Seq("join", "vector", "filter", "dup")
    def topk = InvertedIndex.probe(spark, dir, terms).collect().map(_.toSeq).toSet
    def nDocs = InvertedIndex.readStats(spark, dir).collect()(0).getLong(0)
    val want = topk
    val stats0 = nDocs
    // the retried fold no-ops: postings, terms, AND stats all unchanged
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), dir,
      batchId = Some("b1"))
    assert(topk == want, "retried fold changed probe results")
    assert(nDocs == stats0, "retried fold double-counted n_docs")
    // still a no-op after a compaction advanced the snapshot
    InvertedIndex.compact(spark, dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 5 === 0), dir,
      batchId = Some("b1"))
    assert(topk == want && nDocs == stats0,
      "an old committed batch must stay a no-op after compaction")
  }
}
