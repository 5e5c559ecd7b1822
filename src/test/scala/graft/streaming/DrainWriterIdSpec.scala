package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.util.ManifestCommit

/** Streaming-drain writer identity (the r14 verdict's #2 finding): the
  * sequenced-id writer token must come from the query's CHECKPOINT
  * LOCATION, not a fixed literal. Two distinct drains pointed at the
  * SAME index both number their batches from 0 — under one shared
  * writer name, drain A committing seq 0,1 makes drain B's REAL
  * batches 0,1 read as replays and silently no-op. With
  * checkpoint-derived writers each drain keeps its own high-water
  * mark.
  */
class DrainWriterIdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private def docs(from: Long, n: Long): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog and then doc $i " +
        s"adds a long shared tail of perfectly common shingle text"))
      .toDF("doc_id", "text")
  }

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def bandRows(dir: String): Long =
    ManifestCommit.current(conf, dir).rows("bands") +
      ManifestCommit.current(conf, dir)
        .rows(graft.util.ManifestTiered.tailTable("bands"))

  test("writer tokens are stable per checkpoint and distinct across checkpoints") {
    val a = DrainIds.writerFor("/cp/queryA")
    assert(a == DrainIds.writerFor("/cp/queryA/"), "trailing slash must not change identity")
    assert(a != DrainIds.writerFor("/cp/queryB"))
    // legal plain token for seqBatchId
    ManifestCommit.seqBatchId(a, 0)
  }

  test("canonical writer: every spelling of one checkpoint hashes to ONE " +
      "writer (file:/cp vs /cp vs trailing slash)") {
    val q = DrainIds.writerFor(conf, "/cp/queryA")
    assert(q == DrainIds.writerFor(conf, "file:/cp/queryA"),
      "scheme spelling must not change identity")
    assert(q == DrainIds.writerFor(conf, "file:///cp/queryA"),
      "authority spelling must not change identity")
    assert(q == DrainIds.writerFor(conf, "/cp/queryA/"))
    assert(q != DrainIds.writerFor(conf, "/cp/queryB"))
  }

  test("two drains on ONE index fold disjoint batches without eating " +
      "each other's watermarks; per-drain replays still no-op") {
    val idx = tmp("dw_idx")
    Dedup.saveMinHashIndex(docs(0, 20), idx)
    val cpA = tmp("dw_cpA")
    val cpB = tmp("dw_cpB")
    val hits = tmp("dw_hits")
    val base = bandRows(idx)

    // drain A, batch 0 (its numbering starts at 0)
    val bidA0 = DrainIds.pending(conf, idx, cpA, 0)
    assert(bidA0.isDefined)
    Dedup.probeAndAppendMinHashIndex(docs(100, 10), idx, s"$hits/a0",
      batchId = bidA0)
    val afterA0 = bandRows(idx)
    assert(afterA0 > base, "drain A batch 0 must fold")

    // drain B, batch 0 — SAME batch number, different query: under the
    // r14 fixed literal this read as a replay of A's seq 0 and no-op'd
    val bidB0 = DrainIds.pending(conf, idx, cpB, 0)
    assert(bidB0.isDefined,
      "drain B's real batch 0 must not read as drain A's replay")
    Dedup.probeAndAppendMinHashIndex(docs(200, 10), idx, s"$hits/b0",
      batchId = bidB0)
    assert(bandRows(idx) > afterA0, "drain B batch 0 must fold")
    val afterB0 = bandRows(idx)

    // replays no-op PER DRAIN, at the pending() gate
    assert(DrainIds.pending(conf, idx, cpA, 0).isEmpty, "A's replay must skip")
    assert(DrainIds.pending(conf, idx, cpB, 0).isEmpty, "B's replay must skip")
    // and even a direct re-fold under the same id no-ops at the publish
    Dedup.probeAndAppendMinHashIndex(docs(100, 10), idx, s"$hits/a0r",
      batchId = Some(ManifestCommit.seqBatchId(DrainIds.writerFor(conf, cpA), 0)))
    assert(bandRows(idx) == afterB0, "replayed fold must not change the index")

    // both drains advance independently
    assert(DrainIds.pending(conf, idx, cpA, 1).isDefined)
    assert(DrainIds.pending(conf, idx, cpB, 1).isDefined)
  }

}
