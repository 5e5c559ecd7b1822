package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** Size-tiered compaction of the MinHash index: the routine cycle folds
  * ONLY the tail (the base is never rewritten), runs re-merge past the
  * count backstop, and the base rewrite happens exactly when the
  * level-1 mass reaches the size ratio — with probe results identical
  * across every level state. This is what keeps per-cycle maintenance
  * IO at O(tail) on a years-deep index instead of the single-level
  * design's full-index rewrite per cycle. All on the manifest commit
  * protocol (tier state read off the manifest, base-intact proofs off
  * the base dir's physical files).
  */
class TieredCompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  /** `n` docs with globally unique tokens from `from` — no cross-doc
    * shingle collisions, so probe hits are exactly the planted copies.
    */
  private def docs(from: Long, n: Long): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i =>
      (i, (1 to 60).map(j => s"w${i}x$j").mkString(" "), "en", "src", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def m(dir: String) = ManifestCommit.current(conf, dir)

  private def baseRel(dir: String): String = m(dir).table("bands").head

  private def baseFiles(dir: String): Map[String, Long] = {
    val b = scala.collection.mutable.Map[String, Long]()
    val p0 = java.nio.file.Paths.get(dir, baseRel(dir))
    java.nio.file.Files.walk(p0)
      .filter(_.toString.endsWith(".parquet"))
      .forEach(p => b(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis)
    b.toMap
  }

  private def runsOf(dir: String): Seq[String] =
    m(dir).table(ManifestTiered.l1Table("bands"))

  private def tailRows(dir: String): Long =
    m(dir).rows(ManifestTiered.tailTable("bands"))

  /** Probe = a copy of doc 0; must always hit exactly (copy, 0, 1.0). */
  private def probeHit(dir: String): Set[(Long, Long, Double)] =
    Dedup.dedupAgainstMinHashIndex(
      docs(0, 1).withColumn("doc_id", col("doc_id") + 900000L), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** All signature rows a probe can see, via the public report frame. */
  private def visibleRows(dir: String): Long =
    Dedup.indexBandCounts(spark, dir)
      .agg(sum(col("n_rows"))).collect()(0).getLong(0)

  test("minor compaction folds ONLY the tail; the base is never rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("tier_minor").toString
    Dedup.saveMinHashIndex(docs(0, 100), dir) // base: 1600 band rows
    val base0 = baseFiles(dir)

    Dedup.appendMinHashIndex(docs(100, 10), dir, batchId = Some("b1"))
    assert(tailRows(dir) > 0)
    Dedup.compactMinHashIndex(spark, dir) // tail 160 < base 1600 → Minor
    assert(runsOf(dir).size == 1, s"expected one level-1 run, got ${runsOf(dir)}")
    assert(tailRows(dir) == 0, "minor fold must empty the tail")
    assert(baseFiles(dir) == base0, "minor fold must not touch base files")

    Dedup.appendMinHashIndex(docs(110, 10), dir, batchId = Some("b2"))
    Dedup.compactMinHashIndex(spark, dir)
    assert(runsOf(dir).size == 2, "second minor fold → second run")
    assert(baseFiles(dir) == base0)
    assert(visibleRows(dir) == 16L * 120)
    assert(probeHit(dir) == Set((900000L, 0L, 1.0)))
  }

  test("run-count backstop re-merges runs into one, still without touching the base") {
    val dir = java.nio.file.Files.createTempDirectory("tier_merge").toString
    Dedup.saveMinHashIndex(docs(0, 100), dir)
    val base0 = baseFiles(dir)
    // 8 × 10-doc cycles stay Minor (tail+l1 ≤ 1440 < 1600 base rows);
    // the 9th trips the MaxL1Runs=8 backstop → one merged run, base intact
    (0 until 9).foreach { k =>
      Dedup.appendMinHashIndex(docs(100 + 10L * k, 10), dir, batchId = Some(s"c$k"))
      Dedup.compactMinHashIndex(spark, dir)
    }
    assert(runsOf(dir).size == 1,
      s"9th cycle must re-merge the 8 runs into one, got ${runsOf(dir)}")
    assert(baseFiles(dir) == base0, "run re-merge must not touch base files")
    assert(visibleRows(dir) == 16L * 190)
    assert(probeHit(dir) == Set((900000L, 0L, 1.0)))

    // the 10th cycle reaches l1+tail = 1600 ≥ base → MAJOR: everything
    // folds into a re-laid base, levels empty
    Dedup.appendMinHashIndex(docs(190, 10), dir, batchId = Some("c9"))
    Dedup.compactMinHashIndex(spark, dir)
    assert(runsOf(dir).isEmpty && tailRows(dir) == 0)
    assert(baseFiles(dir) != base0, "major compaction rewrites the base")
    assert(visibleRows(dir) == 16L * 200)
    assert(probeHit(dir) == Set((900000L, 0L, 1.0)))
  }

  test("probes prune level-1 runs via pushed footer predicates (flat sorted runs)") {
    val dir = java.nio.file.Files.createTempDirectory("tier_prune").toString
    Dedup.saveMinHashIndex(docs(0, 100), dir)
    Dedup.appendMinHashIndex(docs(100, 10), dir, batchId = Some("b1"))
    Dedup.compactMinHashIndex(spark, dir) // → one run
    assert(runsOf(dir).size == 1)
    // runs are FLAT (band, bmod, bucket)-sorted files — a Minor fold
    // costs a handful-of-files write, never a partition-dir-tree
    // commit; pruning happens via parquet row-group stats, so the
    // probe's DIRECT band/bmod predicates must reach PushedFilters
    val runDir = java.nio.file.Paths.get(dir, runsOf(dir).head)
    val st = java.nio.file.Files.list(runDir)
    try assert(st.count() <= 4,
      "flat run must be a handful of files, not a partition tree")
    finally st.close()
    val (_, scans) = ProbeScans.of(spark, dir)(Dedup.dedupAgainstMinHashIndex(docs(0, 1), dir))
    val runScans = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains("bands.l1")))
    assert(runScans.nonEmpty, "probe must read the level-1 run")
    runScans.foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("band") && pushed.contains("bmod"),
        s"run scan must push band/bmod to parquet stats, got: $pushed")
    }
    assert(probeHit(dir) == Set((900000L, 0L, 1.0)))
  }
}
