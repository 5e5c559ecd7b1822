package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** Holds every fold that reaches it until `parties` distinct folds
  * have: both racing folds then lay against the snapshot each resolved
  * before laying, so their publishes contend for one generation.
  */
private object FoldGate {
  private val arrived = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var parties = 0
  def reset(n: Int): Unit = { arrived.clear(); parties = n }
  def pass(fold: Int): Unit = {
    arrived.add(fold)
    val deadline = System.currentTimeMillis() + 30000L
    while (arrived.size < parties && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }
}

/** The BM25 inverted index on the versioned-manifest (object-store)
  * commit protocol: build / delta fold / compact / probe through the
  * public entry points, score-identical to a from-scratch build — with
  * a fold landing one flat tail dir per table (postings, stats) in ONE
  * manifest publish, probes counting df over the postings of every tier
  * and summing stats, and probes listing only the probed bucket dirs.
  * The fold, racing, compaction and probe-construction cases run on a
  * small generated corpus, so they need no external test data.
  */
class Bm25ManifestSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

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

  /** `n` documents (doc_id 0 until n) over a 400-word vocabulary with
    * skewed frequencies, the probe terms among the common words —
    * enough vocabulary to fill all 64 term buckets. Deterministic.
    */
  private def corpus(n: Int): org.apache.spark.sql.DataFrame = {
    val vocab = terms ++ (0 until 396).map(i => s"w$i")
    val rng = new java.util.Random(20261018L)
    val rows = (0 until n).map { id =>
      val len = 5 + rng.nextInt(40)
      val words = Seq.fill(len) {
        vocab(math.min(vocab.size - 1, (math.pow(rng.nextDouble(), 3) * vocab.size).toInt))
      }
      (id.toLong, words.mkString(" "))
    }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def statsRow(dir: String): (Long, Long) = {
    val rows = InvertedIndex.readStats(spark, dir).collect()
    assert(rows.length == 1, s"readStats must return one summed row, got ${rows.length}")
    (rows(0).getLong(0), rows(0).getLong(1))
  }

  private val tiered = Seq("postings", "stats")

  private def bucketOf(term: String): Long =
    spark.range(1).select(pmod(xxhash64(lit(term)), lit(InvertedIndex.NumBuckets.toLong)))
      .head().getLong(0)

  /** Every parquet scan root of a probe's physical plan. */
  private def scanRoots(probe: org.apache.spark.sql.DataFrame): Seq[String] =
    probe.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten

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
    val docs = corpus(100)
    val dir = tmp("bm25_nobuild")
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

  // a fold appends one tail dir per table in ONE publish and leaves
  // every base untouched
  test("a fold publish is all-or-nothing: terms/stats/postings move as one snapshot") {
    val docs = corpus(300)
    val dir = tmp("bm25_mani_a")
    InvertedIndex.save(docs.filter(col("doc_id") % 2 === 0), dir)
    val before = scores(dir)
    val m0 = ManifestCommit.current(conf, dir)
    // crash between lay and publish: fresh dirs exist, no manifest —
    // probes must keep resolving the OLD snapshot (never a mix). A
    // leaked posting would move both tf and df of `join`.
    val orphanPostings = ManifestCommit.newDataDir(dir, ManifestTiered.tailTable("postings"))
    spark.range(1)
      .select(lit("join").as("term"), lit(100000L).as("doc_id"), lit(50).as("dl"),
        lit(50L).as("tf"), lit(bucketOf("join")).as("bucket"))
      .write.parquet(s"$dir/$orphanPostings")
    assert(scores(dir) == before, "unpublished table dirs leaked into a probe")
    assert(ManifestCommit.current(conf, dir).gen == m0.gen)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1), dir,
      batchId = Some("fold-2"))
    val m1 = ManifestCommit.current(conf, dir)
    assert(m1.gen == m0.gen + 1, "the fold must be exactly one publish")
    tiered.foreach { t =>
      val tail = ManifestTiered.tailTable(t)
      assert(m1.table(tail).size == m0.table(tail).size + 1,
        s"the fold must add exactly one $tail dir")
      assert(m1.table(t) == m0.table(t), s"the fold rewrote the $t base")
      assert(m1.table(ManifestTiered.l1Table(t)) == m0.table(ManifestTiered.l1Table(t)))
    }
    assert(m1.rows(ManifestTiered.tailTable("stats")) == 1L)
    val scratch = tmp("bm25_mani_s")
    InvertedIndex.save(docs, scratch)
    assert(scores(dir) == scores(scratch))
    assert(statsRow(dir) == statsRow(scratch))
  }

  test("Minor and Major compaction empty the terms/stats tails; every tier state probes like a from-scratch build") {
    val docs = corpus(450)
    val dir = tmp("bm25_tiers")
    def upTo(n: Int) = docs.filter(col("doc_id") < n)
    def scratch(n: Int) = { val d = tmp("bm25_tiers_s"); InvertedIndex.save(upTo(n), d); d }
    def sameAs(want: String, state: String): Unit = {
      assert(scores(dir) == scores(want), s"probe differs from a from-scratch build $state")
      assert(statsRow(dir) == statsRow(want), s"readStats differs $state")
    }
    InvertedIndex.save(upTo(200), dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") >= 200 && col("doc_id") < 240), dir)
    val s240 = scratch(240)
    sameAs(s240, "after a fold")
    assert(InvertedIndex.compactionTiers(spark, dir)._1 == "Minor")
    val m0 = ManifestCommit.current(conf, dir)
    InvertedIndex.compact(spark, dir)
    val m1 = ManifestCommit.current(conf, dir)
    tiered.foreach { t =>
      assert(m1.table(ManifestTiered.tailTable(t)).isEmpty, s"Minor left $t tail dirs")
      assert(m1.table(ManifestTiered.l1Table(t)).size ==
        m0.table(ManifestTiered.l1Table(t)).size + 1, s"Minor must add one $t run")
      assert(m1.table(t) == m0.table(t), s"Minor rewrote the $t base")
    }
    sameAs(s240, "after a Minor compaction")
    // runs + tail now outweigh the base: the next cycle is a Major
    InvertedIndex.appendDelta(docs.filter(col("doc_id") >= 240), dir)
    val s450 = scratch(450)
    sameAs(s450, "with a run and a tail")
    assert(InvertedIndex.compactionTiers(spark, dir)._1 == "Major")
    InvertedIndex.compact(spark, dir)
    val m2 = ManifestCommit.current(conf, dir)
    tiered.foreach { t =>
      assert(m2.table(ManifestTiered.tailTable(t)).isEmpty, s"Major left $t tail dirs")
      assert(m2.table(ManifestTiered.l1Table(t)).isEmpty, s"Major left $t runs")
      assert(m2.table(t).size == 1 && m2.table(t) != m1.table(t), s"Major must replace the $t base")
    }
    assert(m2.rows("stats") == 1L, "a Major folds stats into one row")
    sameAs(s450, "after a Major compaction")
  }

  test("racing folds with different batch ids both land and score like a from-scratch build") {
    val docs = corpus(300)
    val dir = tmp("bm25_race")
    InvertedIndex.save(docs.filter(col("doc_id") < 200), dir)
    val g0 = ManifestCommit.current(conf, dir).gen
    // each fold's tokenize pass waits at the gate for the other fold,
    // so both have resolved generation g0 before either publishes
    val gated = udf((text: String, fold: Int) => { FoldGate.pass(fold); text })
    def fold(i: Int, lo: Int, hi: Int): Unit =
      InvertedIndex.appendDelta(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
          .withColumn("text", gated(col("text"), lit(i))),
        dir, batchId = Some(s"race-$i"))
    FoldGate.reset(2)
    val retries0 = ManifestCommit.ContentionRetries.get()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val racers = Seq(1 -> (200, 250), 2 -> (250, 300)).map { case (i, (lo, hi)) =>
      val t = new Thread(() =>
        try fold(i, lo, hi) catch { case e: Throwable => errors.add(e); () })
      t.start()
      t
    }
    racers.foreach(_.join(120000L))
    assert(racers.forall(!_.isAlive), "a racing fold did not finish")
    assert(errors.isEmpty, s"a racing fold failed: ${errors.peek()}")
    val m = ManifestCommit.current(conf, dir)
    assert(m.gen == g0 + 2, "both folds must publish, one generation each")
    assert(ManifestCommit.isBatchCommitted(conf, dir, "race-1") &&
      ManifestCommit.isBatchCommitted(conf, dir, "race-2"))
    assert(ManifestCommit.ContentionRetries.get() > retries0,
      "the folds resolved one snapshot, so one publish must have retried")
    tiered.foreach(t => assert(m.table(ManifestTiered.tailTable(t)).size == 2))
    val scratch = tmp("bm25_race_s")
    InvertedIndex.save(docs, scratch)
    assert(scores(dir) == scores(scratch))
    assert(statsRow(dir) == statsRow(scratch))
  }

  test("a fold starts at most 3 Spark jobs and shuffles only for its stats row") {
    val docs = corpus(300)
    val dir = tmp("bm25_fold_jobs")
    InvertedIndex.save(docs.filter(col("doc_id") < 200), dir)
    val (_, jobs) = graft.util.JobGroups.jobsOf(spark) {
      InvertedIndex.appendDelta(docs.filter(col("doc_id") >= 200), dir, batchId = Some("f1"))
    }
    assert(jobs.size <= 3, s"${jobs.size} jobs: ${jobs.map(_.stages.mkString("|"))}")
    // the stats row's aggregate writes the one shuffle
    val shuffles = jobs.flatMap(_.shuffleWrites).toSet
    assert(shuffles.size <= 1, s"${shuffles.size} shuffle writes: ${jobs.map(_.stages.mkString("|"))}")
    val scratch = tmp("bm25_fold_jobs_s")
    InvertedIndex.save(docs, scratch)
    assert(scores(dir) == scores(scratch))
    assert(statsRow(dir) == statsRow(scratch))
  }

  test("in-row term counts give the postings and the stats row of the groupBy plan") {
    val rng = new java.util.Random(20261022L)
    val words = Seq("Join", "join", "JOIN", "vector", "a1", "Filter", "dup", "x", "naïve")
    val texts: Seq[String] = (0 until 300).map { i =>
      i % 10 match {
        case 0 => null
        case 1 => "  --- ... !!! "
        case 2 => ""
        case _ => Seq.fill(1 + rng.nextInt(30))(
          words(rng.nextInt(words.size)) + (if (rng.nextInt(4) == 0) ", " else " ")).mkString
      }
    }
    val docs = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    // the plan postings came from before: tokens exploded and counted
    // per (term, doc_id, dl) through a shuffle
    val grouped = docs.select(col("doc_id"), graft.functions.GraftFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(InvertedIndex.NumBuckets.toLong)))
    val postings = InvertedIndex.tokenizedPostings(docs)
    assert(postings.schema.map(f => f.name -> f.dataType) == grouped.schema.map(f => f.name -> f.dataType))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val want = rows(grouped)
    assert(want.exists(_._4 > 1) && want.exists(_._1 == "join"), "the corpus must repeat and fold terms")
    assert(rows(postings).sortBy(r => (r._1, r._2)).toSeq == want.sortBy(r => (r._1, r._2)).toSeq)
    // zero-token and null-text documents count in n_docs and add 0 to total_dl
    val stats = InvertedIndex.statsOf(docs).head()
    assert((stats.getLong(0), stats.getLong(1)) == ((300L, want.map(_._4).sum)))
    val none = InvertedIndex.statsOf(docs.limit(0)).head()
    assert((none.getLong(0), none.getLong(1)) == ((0L, 0L)))
  }

  test("building a probe starts no Spark job and lists only the probed bucket dirs") {
    val dir = tmp("bm25_probe_jobs")
    InvertedIndex.save(corpus(300), dir)
    val probeTerms = Seq("join", "dup")
    val (probe, jobs) = graft.util.JobGroups.startsJobs(spark) {
      InvertedIndex.probe(spark, dir, probeTerms)
    }
    assert(!jobs, "building the probe started a Spark job")
    val m = ManifestCommit.current(conf, dir)
    val buckets = probeTerms.map(bucketOf).toSet
    val roots = scanRoots(probe)
    val base = new java.io.File(dir, m.table("postings").head).getAbsolutePath
    val underBase = roots.filter(_.startsWith(base))
    assert(underBase.nonEmpty, "no postings base scan in the probe plan")
    assert(underBase.toSet == buckets.map(b => s"$base/bucket=$b"),
      s"the postings base scan must read only the probed bucket dirs, got $underBase")
  }

  test("a build and a fold publish no terms table, and a probe scans no terms dir") {
    val docs = corpus(300)
    val dir = tmp("bm25_noterms")
    InvertedIndex.save(docs.filter(col("doc_id") < 200), dir)
    InvertedIndex.appendDelta(docs.filter(col("doc_id") >= 200), dir, batchId = Some("f1"))
    val m = ManifestCommit.current(conf, dir)
    assert(!m.tables.keys.exists(_.startsWith("terms")),
      s"a df table was published: ${m.tables.keys.toSeq.sorted}")
    assert(!new java.io.File(dir, "data/terms").exists() &&
      !new java.io.File(dir, "data/terms.tail").exists(), "a df table was laid")
    val probe = InvertedIndex.probe(spark, dir, terms)
    val roots = scanRoots(probe)
    assert(roots.exists(_.contains("/data/postings")) &&
      roots.forall(r => r.contains("/data/postings") || r.contains("/data/stats")),
      s"the probe must scan only postings and stats dirs, got $roots")
    // df and the top-k share the one postings exchange (on term)
    assert(probe.collect().nonEmpty)
    val termShuffles = collect(probe.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(termShuffles.size == 1,
      s"the probe must shuffle postings once, got ${termShuffles.size}:\n${probe.queryExecution.executedPlan}")
  }

  test("an index that still names a terms table probes like a from-scratch build") {
    val docs = corpus(300)
    val dir = tmp("bm25_oldterms")
    InvertedIndex.save(docs.filter(col("doc_id") < 200), dir)
    // the df tail an older build would have published, with a wrong df:
    // a reader that still summed it would mis-score every `join` row
    val stale = ManifestCommit.newDataDir(dir, ManifestTiered.tailTable("terms"))
    spark.range(1)
      .select(lit("join").as("term"), lit(999L).as("df"), lit(bucketOf("join")).as("bucket"))
      .write.parquet(s"$dir/$stale")
    ManifestCommit.publish(conf, dir, m =>
      ManifestCommit.addDir(m, ManifestTiered.tailTable("terms"), stale, 1L))
    InvertedIndex.appendDelta(docs.filter(col("doc_id") >= 200), dir, batchId = Some("f1"))
    val scratch = tmp("bm25_oldterms_s")
    InvertedIndex.save(docs, scratch)
    assert(scores(dir) == scores(scratch), "a stale terms table changed the scores")
    InvertedIndex.compact(spark, dir)
    assert(scores(dir) == scores(scratch), "compaction over a stale terms table changed the scores")
    assert(ManifestCommit.current(conf, dir).table(ManifestTiered.tailTable("terms")) == Seq(stale),
      "folds and compactions must leave the stale terms entry as it is")
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
