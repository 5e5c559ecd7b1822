package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The object-store-safe versioned-manifest protocol: data paths are
  * never renamed or overwritten, a publish is one create-no-overwrite
  * manifest file, torn publishes are invisible, readers get snapshot
  * isolation across appends/compactions/vacuums, and a retried batch
  * id is a no-op. Every assertion here holds WITHOUT rename atomicity:
  * the only write primitives used are fresh-file create and delete —
  * exactly what an S3-class store gives.
  */
class ManifestCommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def rows(from: Long, n: Long): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i, i * 10)).toDF("id", "v")
  }

  /** Append-shaped maintenance step: write a fresh dir, publish.
    * graceMs = 0 throughout: single-threaded tests have no live racing
    * writer, and the defaults would otherwise (correctly) refuse to
    * heal/GC just-written files.
    */
  private def append(dir: String, df: DataFrame, batchId: String,
                     retainGens: Int = ManifestCommit.CommittedRetainGens): Unit = {
    val d = ManifestCommit.newDataDir(dir, "t")
    df.write.parquet(s"$dir/$d")
    ManifestCommit.publish(conf, dir,
      m => ManifestCommit.addDir(m, "t", d, df.count()),
      batchId = Some(batchId), retainGens = retainGens,
      tornHealGraceMs = 0L); ()
  }

  private def readIds(dir: String): Set[Long] =
    ManifestCommit.readTable(spark, dir, ManifestCommit.current(conf, dir),
      "t", schema).select(col("id")).collect().map(_.getLong(0)).toSet

  test("append publishes atomically; a retried batch id is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("mc_app").toString
    append(dir, rows(0, 10), "b1")
    assert(readIds(dir) == (0L until 10L).toSet)
    // the crashed-orchestrator retry: same batch, fresh data dir — the
    // publish no-ops, the orphan dir stays invisible
    append(dir, rows(0, 10), "b1")
    assert(readIds(dir) == (0L until 10L).toSet, "retried batch double-appended")
    assert(ManifestCommit.isBatchCommitted(conf, dir, "b1"))
    append(dir, rows(10, 5), "b2")
    assert(readIds(dir) == (0L until 15L).toSet)
    // dir row counts ride the manifest: the tiering policy reads tier
    // masses with ZERO Spark counts
    assert(ManifestCommit.current(conf, dir).rows("t") == 15L)
  }

  test("a writer that dies before its publish leaves only invisible garbage") {
    val dir = java.nio.file.Files.createTempDirectory("mc_crash").toString
    append(dir, rows(0, 10), "b1")
    // crash: data fully written, no manifest published
    val orphan = ManifestCommit.newDataDir(dir, "t")
    rows(100, 5).write.parquet(s"$dir/$orphan")
    assert(readIds(dir) == (0L until 10L).toSet, "unpublished dir leaked into reads")
    // vacuum GCs the orphan — once it is older than the grace window
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, orphan)))
    assert(readIds(dir) == (0L until 10L).toSet)
  }

  test("vacuum skips unreferenced dirs younger than the grace window (a live writer's mid-publish lay)") {
    val dir = java.nio.file.Files.createTempDirectory("mc_grace").toString
    append(dir, rows(0, 10), "b1")
    // a LIVE writer: dirs fully laid, manifest not yet created — the
    // legal state between lay and publish
    val staged = ManifestCommit.newDataDir(dir, "t")
    rows(100, 5).write.parquet(s"$dir/$staged")
    ManifestCommit.vacuum(conf, dir, keepGens = 1) // default grace
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, staged)),
      "vacuum deleted a just-laid dir inside the grace window")
    // the racing writer's publish still resolves every referenced file
    ManifestCommit.publish(conf, dir,
      m => ManifestCommit.addDir(m, "t", staged, 5L), batchId = Some("b2"))
    assert(readIds(dir) == ((0L until 10L) ++ (100L until 105L)).toSet)
  }

  test("a torn manifest write is invisible: readers resolve the previous generation") {
    val dir = java.nio.file.Files.createTempDirectory("mc_torn").toString
    append(dir, rows(0, 10), "b1")
    val g1 = ManifestCommit.current(conf, dir)
    assert(g1.gen == 1L)
    // a crashed publish that left a PARTIAL manifest object visible
    // (no terminator) — possible on a store without atomic PUT
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifests", "m2"),
      "gen=2\ncommitted=b1,b2\ntable=t:data/t/d-junk".getBytes("UTF-8"))
    assert(ManifestCommit.current(conf, dir).gen == 1L,
      "torn manifest must be skipped, not resolved")
    assert(readIds(dir) == (0L until 10L).toSet)
    assert(!ManifestCommit.isBatchCommitted(conf, dir, "b2"),
      "a torn publish must not count as committed")
    // vacuum must NOT count the torn file toward the keep window — the
    // old behavior kept only the torn m2, computed an empty live set,
    // and deleted every dir the real current snapshot referenced
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    assert(readIds(dir) == (0L until 10L).toSet,
      "vacuum with a torn newest manifest destroyed the live snapshot")
    assert(ManifestCommit.current(conf, dir).gen == 1L)
    // the retried publish SELF-HEALS the torn generation: its occupant
    // is unreadable to every reader by construction (and its writer is
    // dead under the single-writer contract), so the retry clears it
    // and takes the slot — without this the index is write-wedged
    // forever (every retry re-resolves gen 1 and collides again)
    append(dir, rows(10, 5), "b2")
    assert(ManifestCommit.current(conf, dir).gen == 2L)
    assert(readIds(dir) == (0L until 15L).toSet)
    assert(ManifestCommit.isBatchCommitted(conf, dir, "b2"))
  }

  test("a torn manifest YOUNGER than the heal grace is contention, not heal-bait") {
    val dir = java.nio.file.Files.createTempDirectory("mc_torn_young").toString
    append(dir, rows(0, 10), "b1")
    // on file:/hdfs: a still-streaming manifest is visible mid-write
    // and decodes as torn — a second writer must NOT delete it and
    // claim the slot (silent lost update of the live writer's publish)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifests", "m2"),
      "gen=2\ncommitted=".getBytes("UTF-8"))
    val d = ManifestCommit.newDataDir(dir, "t")
    rows(10, 5).write.parquet(s"$dir/$d")
    val e = intercept[IllegalStateException] {
      ManifestCommit.publish(conf, dir,
        m => ManifestCommit.addDir(m, "t", d, 5L), batchId = Some("b2"))
    }
    assert(e.getMessage.contains("grace"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_manifests", "m2")),
      "young torn manifest must survive a racing publish")
    // aged past the grace window the same file IS a dead crash — the
    // retry heals it and lands (the mc_torn case, via the knob)
    ManifestCommit.publish(conf, dir,
      m => ManifestCommit.addDir(m, "t", d, 5L), batchId = Some("b2"),
      tornHealGraceMs = 0L)
    assert(readIds(dir) == (0L until 15L).toSet)
  }

  test("a stale writer cannot re-claim a vacuumed generation number") {
    val dir = java.nio.file.Files.createTempDirectory("mc_stale").toString
    append(dir, rows(0, 5), "b1")
    val stale = ManifestCommit.current(conf, dir) // gen 1
    append(dir, rows(5, 5), "b2")
    append(dir, rows(10, 5), "b3")
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L) // m1, m2 deleted
    // the stale writer targets gen 2 — the file is GONE, so the bare
    // create-no-overwrite would succeed, but readers resolve gen 3 and
    // would never see the "published" manifest: the gen guard must
    // fail it loudly instead of losing the update silently
    val d = ManifestCommit.newDataDir(dir, "t")
    rows(100, 5).write.parquet(s"$dir/$d")
    intercept[IllegalStateException] {
      ManifestCommit.publishAt(conf, dir, stale,
        m => ManifestCommit.addDir(m, "t", d, 5L),
        batchId = Some("w"))
    }
    assert(readIds(dir) == (0L until 15L).toSet)
    assert(!ManifestCommit.isBatchCommitted(conf, dir, "w"))
  }

  test("two writers racing one generation: exactly one wins, the loser throws") {
    val dir = java.nio.file.Files.createTempDirectory("mc_race").toString
    append(dir, rows(0, 10), "b1")
    val d2 = ManifestCommit.newDataDir(dir, "t")
    val d3 = ManifestCommit.newDataDir(dir, "t")
    rows(10, 5).write.parquet(s"$dir/$d2")
    rows(20, 5).write.parquet(s"$dir/$d3")
    // both writers resolved gen 1 and race to publish gen 2: the first
    // CAS wins, the second — holding the same stale snapshot — must
    // fail loudly on the occupied generation, never overwrite it
    val stale = ManifestCommit.current(conf, dir)
    ManifestCommit.publishAt(conf, dir, stale,
      m => ManifestCommit.addDir(m, "t", d2, 5L), batchId = Some("w1"))
    intercept[IllegalStateException] {
      ManifestCommit.publishAt(conf, dir, stale,
        m => ManifestCommit.addDir(m, "t", d3, 5L), batchId = Some("w2"))
    }
    // winner's commit survives intact; the loser's batch is uncommitted
    assert(readIds(dir) == (0L until 15L).toSet)
    assert(ManifestCommit.isBatchCommitted(conf, dir, "w1"))
    assert(!ManifestCommit.isBatchCommitted(conf, dir, "w2"))
    // the loser retries against a FRESH snapshot and lands cleanly
    ManifestCommit.publish(conf, dir,
      m => ManifestCommit.addDir(m, "t", d3, 5L), batchId = Some("w2"))
    assert(readIds(dir) == ((0L until 15L) ++ (20L until 25L)).toSet)
  }

  test("compaction replaces a table's dir list; readers keep their snapshot mid-swap and mid-vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("mc_compact").toString
    append(dir, rows(0, 10), "b1")
    append(dir, rows(10, 10), "b2")
    val snapshot = ManifestCommit.current(conf, dir) // gen 2: two dirs
    val pinned = ManifestCommit.readTable(spark, dir, snapshot, "t", schema)
    assert(snapshot.table("t").size == 2)
    // compact: rewrite both dirs into ONE new dir, publish a REPLACE
    val folded = ManifestCommit.newDataDir(dir, "t")
    ManifestCommit.readTable(spark, dir, snapshot, "t", schema)
      .repartition(1).write.parquet(s"$dir/$folded")
    ManifestCommit.publish(conf, dir,
      m => ManifestCommit.setDirs(m, "t",
        Seq(ManifestCommit.DirEntry(folded, 20L))))
    assert(ManifestCommit.current(conf, dir).table("t") == Seq(folded))
    assert(readIds(dir) == (0L until 20L).toSet, "compaction changed reads")
    // the pre-compaction reader still scans its snapshot's dirs — they
    // exist until vacuum drops generations beyond the keep window
    assert(pinned.select(col("id")).collect().map(_.getLong(0)).toSet ==
      (0L until 20L).toSet, "snapshot reader broken by a concurrent compaction")
    // vacuum keeping 2 gens retains the snapshot's dirs; keeping 1 drops them
    ManifestCommit.vacuum(conf, dir, keepGens = 2, graceMs = 0L)
    assert(pinned.select(col("id")).collect().map(_.getLong(0)).toSet ==
      (0L until 20L).toSet, "keepGens=2 vacuum must retain the previous snapshot")
    ManifestCommit.vacuum(conf, dir, keepGens = 1, graceMs = 0L)
    assert(readIds(dir) == (0L until 20L).toSet)
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "data", "t"))
    try assert(dataDirs.count() == 1, "superseded dirs must be GCed at keepGens=1")
    finally dataDirs.close()
  }

  test("sequenced ids keep ONE watermark per writer; replays no-op at any age") {
    val dir = java.nio.file.Files.createTempDirectory("mc_seq").toString
    val drain = (s: Long, from: Long) =>
      append(dir, rows(from, 5), ManifestCommit.seqBatchId("drain", s))
    drain(0, 0); drain(1, 5); drain(2, 10)
    assert(readIds(dir) == (0L until 15L).toSet)
    // arbitrarily late replays of any already-folded seq are no-ops —
    // no window to outlive (the committed set prunes ONLY free-form
    // ids; the watermark never forgets)
    drain(0, 100); drain(2, 200)
    assert(readIds(dir) == (0L until 15L).toSet,
      "replayed sequenced batch double-appended")
    val m = ManifestCommit.current(conf, dir)
    assert(m.writers == Map("drain" -> 2L), "state must be ONE mark per writer")
    assert(m.committed.isEmpty, "sequenced ids must not enter the free-form set")
    assert(ManifestCommit.isBatchCommitted(conf, dir, "drain~1"))
    assert(!ManifestCommit.isBatchCommitted(conf, dir, "drain~3"))
    assert(!ManifestCommit.isBatchCommitted(conf, dir, "other~0"))
    // a second writer gets its own independent watermark
    append(dir, rows(20, 5), ManifestCommit.seqBatchId("cli", 7))
    assert(ManifestCommit.current(conf, dir).writers ==
      Map("drain" -> 2L, "cli" -> 7L))
  }

  test("free-form committed ids are windowed: the set stays bounded, the floor records the prune") {
    val dir = java.nio.file.Files.createTempDirectory("mc_window").toString
    // retainGens=3 for the test; the production default is 4096
    append(dir, rows(0, 2), "crawl-a", retainGens = 3)
    append(dir, rows(2, 2), "crawl-b", retainGens = 3)
    // inside the window a replay no-ops
    append(dir, rows(0, 2), "crawl-a", retainGens = 3)
    assert(readIds(dir) == (0L until 4L).toSet)
    append(dir, rows(4, 2), "crawl-c", retainGens = 3)
    append(dir, rows(6, 2), "crawl-d", retainGens = 3)
    val m = ManifestCommit.current(conf, dir)
    // crawl-a (gen 1 ≤ gen 4 − 3) pruned; floor advanced to its gen;
    // the set carries only the in-window ids — bounded at any cadence
    assert(!m.committed.contains("crawl-a"), "aged-out id must be pruned")
    assert(m.committed.keySet == Set("crawl-b", "crawl-c", "crawl-d"))
    assert(m.floor == 1L, s"floor must record the newest pruned gen, got ${m.floor}")
    // beyond the window the id is indistinguishable from a new batch —
    // the documented free-form contract (sequenced ids are the
    // never-forgets form); the publish itself still works
    assert(!ManifestCommit.isBatchCommitted(conf, dir, "crawl-a"))
  }

  test("24/7 cadence: 2000 publishes keep the manifest O(window + writers), never O(history)") {
    val dir = java.nio.file.Files.createTempDirectory("mc_bound").toString
    val retain = 64
    // two sequenced writers (the streaming drains) + a free-form id
    // every 10th publish (ad-hoc CLI folds), all through the normal
    // publish path — no data dirs needed to exercise the committed
    // state (the update just bumps a table entry)
    (0 until 2000).foreach { i =>
      val id =
        if (i % 10 == 5) s"adhoc-$i"
        else ManifestCommit.seqBatchId(if (i % 2 == 0) "drainA" else "drainB", i.toLong)
      ManifestCommit.publish(conf, dir,
        m => ManifestCommit.setDirs(m, "t",
          Seq(ManifestCommit.DirEntry(s"data/t/d-$i", i.toLong))),
        batchId = Some(id), retainGens = retain, tornHealGraceMs = 0L)
    }
    val m = ManifestCommit.current(conf, dir)
    assert(m.gen == 2000L)
    assert(m.writers.keySet == Set("drainA", "drainB"),
      "sequenced state must be one watermark per writer")
    assert(m.committed.size <= retain / 10 + 1,
      s"free-form set must stay inside the window, got ${m.committed.size}")
    assert(m.floor > 0L, "pruning must have recorded a floor")
    // the newest manifest FILE is bounded — the growth disease was
    // each publish re-serializing full history (~multi-MB at a year
    // of minutes); windowed + watermark state keeps it constant
    val size = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "_manifests", "m2000"))
    assert(size < 4096, s"manifest file must stay bounded, got $size bytes")
    // recent replays (both forms) still no-op
    val g = m.gen
    ManifestCommit.publish(conf, dir, mm => mm, batchId = Some("drainA~1998"),
      retainGens = retain)
    ManifestCommit.publish(conf, dir, mm => mm, batchId = Some("adhoc-1995"),
      retainGens = retain)
    assert(ManifestCommit.current(conf, dir).gen == g, "replays must not publish")
  }

  test("empty index reads as empty; manifest round-trips its encoding") {
    val dir = java.nio.file.Files.createTempDirectory("mc_empty").toString
    assert(ManifestCommit.current(conf, dir) == ManifestCommit.Empty)
    assert(readIds(dir) == Set.empty[Long])
    append(dir, rows(0, 1), "b1")
    val cur = ManifestCommit.current(conf, dir)
    assert(cur.gen == 1L && cur.committed.keySet == Set("b1") &&
      cur.table("t").size == 1 && cur.rows("t") == 1L && cur.floor == 0L)
  }

  test("v1 manifests (no rows, bare committed ids) still decode") {
    val text = "gen=3\ncommitted=b1,b2\ntable=t:data/t/d-a,data/t/d-b\nend=4"
    val m = ManifestCommit.decode(text).get
    assert(m.gen == 3L)
    assert(m.table("t") == Seq("data/t/d-a", "data/t/d-b"))
    assert(m.rows("t") == -1L, "unknown v1 row counts must read as unknown")
    // bare ids read as committed at their manifest's own generation —
    // the conservative retention (kept for a full window from here)
    assert(m.committed == Map("b1" -> 3L, "b2" -> 3L))
    assert(m.writers.isEmpty && m.floor == 0L)
    assert(m.isCommitted("b1") && !m.isCommitted("b9"))
  }

  test("publishCommuting: a stale-base append retries past a racer and " +
      "BOTH dirs land; non-commuting callers still fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("mc_commute").toString
    ManifestCommit.publish(conf, dir, identity) // gen 1
    val base = ManifestCommit.current(conf, dir)
    // the racer wins gen 2 first
    ManifestCommit.publishAt(conf, dir, base,
      m => ManifestCommit.addDir(m, "t", "data/t/racer", 5L))
    // a plain publishAt from the stale base loses loudly...
    intercept[ManifestCommit.ManifestContentionException] {
      ManifestCommit.publishAt(conf, dir, base,
        m => ManifestCommit.addDir(m, "t", "data/t/mine", 7L))
    }
    // ...but the COMMUTING form re-resolves and lands on top
    val m2 = ManifestCommit.publishCommuting(conf, dir, base,
      m => ManifestCommit.addDir(m, "t", "data/t/mine", 7L))
    assert(m2.gen == 3L)
    assert(m2.table("t") == Seq("data/t/racer", "data/t/mine"),
      "the retried append must keep the racer's dir AND add its own")
  }

  test("publishCommuting: the invariant hook vetoes a retry across a " +
      "racing REBUILD, and is not consulted on the uncontended first try") {
    val dir = java.nio.file.Files.createTempDirectory("mc_invariant").toString
    ManifestCommit.publish(conf, dir,
      m => ManifestCommit.setDirs(m, "centroids",
        Seq(ManifestCommit.DirEntry("data/centroids/d-old", 4L)))) // gen 1
    val base = ManifestCommit.current(conf, dir)
    def centroidsUnchanged(fresh: ManifestCommit.Manifest): Unit =
      if (fresh.table("centroids") != base.table("centroids"))
        throw new IllegalStateException("rebuild replaced centroids")
    // uncontended: lands without ever running the invariant
    val m2 = ManifestCommit.publishCommuting(conf, dir, base,
      m => ManifestCommit.addDir(m, "t.tail", "data/t.tail/a", 1L),
      invariant = _ => fail("invariant must not run on the first attempt"))
    assert(m2.gen == 2L)
    // a racer REBUILDS (replaces centroids) — the stale-base retry must
    // fail LOUDLY through the invariant instead of landing its rows
    ManifestCommit.publish(conf, dir, m => ManifestCommit.setDirs(
      m.copy(committed = Map.empty, writers = Map.empty, floor = 0L),
      "centroids", Seq(ManifestCommit.DirEntry("data/centroids/d-new", 9L))))
    val e = intercept[IllegalStateException] {
      ManifestCommit.publishCommuting(conf, dir, m2,
        m => ManifestCommit.addDir(m, "t.tail", "data/t.tail/b", 1L),
        invariant = centroidsUnchanged)
    }
    assert(e.getMessage.contains("rebuild replaced centroids"))
    assert(!ManifestCommit.current(conf, dir).table("t.tail")
      .contains("data/t.tail/b"), "the vetoed retry must not have published")
    // a retry across a mere APPEND (invariant holds) still lands
    val m4 = ManifestCommit.publishCommuting(conf, dir,
      ManifestCommit.current(conf, dir), // fresh base
      m => ManifestCommit.addDir(m, "t.tail", "data/t.tail/c", 1L),
      invariant = _ => ())
    assert(m4.table("t.tail").contains("data/t.tail/c"))
  }

  test("publishCommuting: N writers racing one index all land exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("mc_race_n").toString
    ManifestCommit.publish(conf, dir, identity) // gen 1
    val n = 6
    val gate = new java.util.concurrent.CountDownLatch(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (0 until n).map { i =>
      val th = new Thread(() => {
        try {
          // every writer resolves the SAME stale base, then races
          val base = ManifestCommit.atGeneration(conf, dir, 1L)
          gate.countDown(); gate.await()
          ManifestCommit.publishCommuting(conf, dir, base,
            m => ManifestCommit.addDir(m, "t", s"data/t/w$i", i.toLong),
            maxRetries = 2 * n); ()
        } catch { case e: Throwable => errs.add(e); () }
      })
      th.start(); th
    }
    ths.foreach(_.join(60000))
    assert(errs.isEmpty, s"racing commuting appends must all land: $errs")
    val cur = ManifestCommit.current(conf, dir)
    assert(cur.table("t").toSet == (0 until n).map(i => s"data/t/w$i").toSet)
    assert(cur.gen == 1L + n, "one generation per append, none lost")
  }
}
