package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ManifestCommit, ManifestTiered}

/** The persisted MinHash index on a small generated corpus, so it needs
  * no external test data: planted near-duplicates across crawls, and a
  * degenerate bucket — more identical documents than the probe's bucket
  * cap — so the min-id anchor rule runs. After every maintenance step
  * (build, append, probe-and-append, Minor, Major) and for an AS-OF
  * probe of the pre-append generation, the probe's hits must equal a
  * driver-side brute force over the same signatures: band collision,
  * anchor rule, signature agreement ≥ threshold. The layout checks ride
  * along: no `bands*` file carries a `sig` column, and the `sigs` tiers
  * hold exactly one row per indexed document.
  */
class MinHashGeneratedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def conf = spark.sessionState.newHadoopConf()

  private type Doc = (Long, String)

  private val rng = new java.util.Random(20261019L)
  private def words(n: Int): Vector[String] =
    Vector.fill(n)(s"w${rng.nextInt(2000)}")
  private def fresh(ids: Range): Seq[Doc] =
    ids.map(i => (i.toLong, words(40 + rng.nextInt(40)).mkString(" ")))
  /** One token near the end replaced: estimated Jaccard stays high. */
  private def nearDup(id: Long, of: Doc): Doc = {
    val ts = of._2.split(" ").toVector
    (id, ts.updated(ts.length - 2 - rng.nextInt(3), "zz" + id).mkString(" "))
  }

  private val boiler = (1 to 60).map(i => s"boiler plate token$i").mkString(" ")
  // crawl A: 200 distinct docs + 300 identical ones (> the 256 cap)
  private val crawlA: Seq[Doc] =
    fresh(0 until 200) ++ (1000L until 1300L).map(i => (i, boiler))
  private def dupsOf(start: Long, src: Seq[Doc], n: Int): Seq[Doc] =
    (0 until n).map(i => nearDup(start + i, src(rng.nextInt(src.size))))
  private val crawlB: Seq[Doc] =
    fresh(2000 until 2080) ++ dupsOf(2100L, crawlA.take(200), 20) :+ ((2999L, boiler))
  private val crawlC: Seq[Doc] =
    fresh(3000 until 3070) ++ dupsOf(3100L, crawlA.take(200), 15) ++
      dupsOf(3200L, crawlB.take(80), 15) :+ ((3999L, boiler))
  private val crawlD: Seq[Doc] =
    fresh(4000 until 4300) ++ dupsOf(4400L, crawlC.take(70), 10)
  private val probes: Seq[Doc] =
    dupsOf(9000L, crawlA.take(200), 10) ++ dupsOf(9100L, crawlB.take(80), 10) ++
      dupsOf(9200L, crawlC.take(70), 10) ++ dupsOf(9300L, crawlD.take(300), 10) ++
      fresh(9400 until 9420) :+ ((9999L, boiler))

  /** Documents in the shallower index of the depth test: two pages of
    * doc_id values in its `sigs` file (parquet closes a page at 20,000
    * rows), so the deeper one has four.
    */
  private val SigsDepth = 40000

  private def df(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")

  /** Every document's signature and band buckets, from the index's own
    * kernels (the brute force checks the index, not the hash family).
    */
  private lazy val (sigOf, bucketsOf) = {
    val (sigs, bands) = Dedup.bandedSignaturesDev(
      df(crawlA ++ crawlB ++ crawlC ++ crawlD ++ probes))
    val s = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val b = bands.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[Long]("bucket")))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(r => r._2 -> r._3).toMap }
    (s, b)
  }

  /** Hits of `queries` against an index holding `indexed`. */
  private def bruteForce(queries: Seq[Doc], indexed: Seq[Doc]): Set[(Long, Long, Double)] = {
    val ids = indexed.map(_._1)
    // (band, bucket) → (width, min-id anchor) over the indexed docs
    val widths = ids.flatMap(d => bucketsOf(d).toSeq.map(_ -> d))
      .groupBy(_._1).map { case (k, ds) => k -> (ds.size, ds.map(_._2).min) }
    (for {
      q <- queries.map(_._1)
      d <- ids
      if bucketsOf(q).exists { case (band, bucket) =>
        bucketsOf(d)(band) == bucket && {
          val (w, aid) = widths((band, bucket))
          w <= Dedup.SimHashMaxBucket || d == aid
        }
      }
      agree = sigOf(q).zip(sigOf(d)).count { case (x, y) => x == y }
      if agree >= 32
    } yield (q, d, BigDecimal(agree / 64.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  private def hitSet(h: DataFrame): Set[(Long, Long, Double)] =
    h.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def parquetFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else {
      val b = Seq.newBuilder[java.nio.file.Path]
      java.nio.file.Files.walk(root)
        .filter(_.toString.endsWith(".parquet")).forEach(p => { b += p; () })
      b.result()
    }

  /** No band row of any tier carries a signature; `sigs` holds one row
    * per indexed document across its tiers.
    */
  private def assertLayout(dir: String, indexed: Seq[Doc]): Unit = {
    val data = java.nio.file.Paths.get(dir, "data")
    val bandFiles = Seq("bands", "bands.l1", "bands.tail")
      .flatMap(t => parquetFiles(data.resolve(t)))
    assert(bandFiles.nonEmpty)
    bandFiles.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try assert(!r.getFooter.getFileMetaData.getSchema.containsField("sig"),
        s"band file carries signatures: $p")
      finally r.close()
    }
    val m = ManifestCommit.current(conf, dir)
    val sigRows = Seq("sigs", ManifestTiered.l1Table("sigs"),
      ManifestTiered.tailTable("sigs")).map(m.rows).sum
    assert(sigRows == indexed.size.toLong, s"sigs rows $sigRows != ${indexed.size} docs")
  }

  test("probes equal a brute force after build, append, probe-and-append, Minor, Major and AS-OF") {
    val dir = java.nio.file.Files.createTempDirectory("mh_gen").toString
    val hitsOut = java.nio.file.Files.createTempDirectory("mh_gen_h").toString
    def check(indexed: Seq[Doc], step: String): Unit = {
      assert(hitSet(Dedup.dedupAgainstMinHashIndex(df(probes), dir)) ==
        bruteForce(probes, indexed), s"probe hits differ after $step")
      assertLayout(dir, indexed)
    }
    Dedup.saveMinHashIndex(df(crawlA), dir)
    val built = ManifestCommit.current(conf, dir).gen
    check(crawlA, "build")
    // the planted degenerate bucket: the boilerplate probe hits the anchor only
    assert(bruteForce(probes, crawlA).filter(_._1 == 9999L) == Set((9999L, 1000L, 1.0)))

    Dedup.appendMinHashIndex(df(crawlB), dir, batchId = Some("b"))
    check(crawlA ++ crawlB, "append")

    Dedup.probeAndAppendMinHashIndex(df(crawlC), dir, hitsOut, batchId = Some("c"))
    val drained = hitSet(spark.read.parquet(s"$hitsOut/batch_id=c"))
    assert(drained == bruteForce(crawlC, crawlA ++ crawlB) && drained.nonEmpty,
      "probe-and-append hits differ from the brute force")
    val abc = crawlA ++ crawlB ++ crawlC
    check(abc, "probe-and-append")

    assert(Dedup.compactionTiers(spark, dir)._1 == "Minor")
    Dedup.compactMinHashIndex(spark, dir)
    assert(ManifestCommit.current(conf, dir).entries(ManifestTiered.l1Table("sigs")).size == 1)
    check(abc, "Minor")

    Dedup.appendMinHashIndex(df(crawlD), dir, batchId = Some("d"))
    assert(Dedup.compactionTiers(spark, dir)._1 == "Major")
    Dedup.compactMinHashIndex(spark, dir)
    val afterMajor = ManifestCommit.current(conf, dir)
    assert(afterMajor.entries(ManifestTiered.l1Table("sigs")).isEmpty &&
      afterMajor.rows(ManifestTiered.tailTable("sigs")) == 0L)
    check(abc ++ crawlD, "Major")

    assert(hitSet(Dedup.dedupAgainstMinHashIndex(df(probes), dir, asOfGen = Some(built))) ==
      bruteForce(probes, crawlA), "AS-OF probe of the built generation differs")
  }

  test("above the broadcast gate the shuffled probe finds the same hits") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("mh_gen_gate").toString
    Dedup.saveMinHashIndex(df(crawlA), dir)
    Dedup.appendMinHashIndex(df(crawlB), dir, batchId = Some("b"))
    val m = ManifestCommit.current(conf, dir)
    val (sigs, bands) = Dedup.bandedSignaturesDev(df(probes))
    def probe(gate: Option[Long]) = {
      val read = Dedup.manifestReader(spark, dir, m)
      gate.fold(Dedup.probeWithBands(spark, sigs, bands, read, 64, 0.5, 16))(g =>
        Dedup.probeWithBands(spark, sigs, bands, read, 64, 0.5, 16, maxBroadcastKeys = g))
    }
    val collected = probe(None)
    val shuffled = probe(Some(0L))
    val want = bruteForce(probes, crawlA ++ crawlB)
    assert(hitSet(collected) == want)
    assert(hitSet(shuffled) == want)
    // the shuffled plan joins the band rows lazily; the collected one
    // has already gathered its candidates and reads only signatures
    def readsBands(h: DataFrame) = h.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains("data/bands")) => f
    }.nonEmpty
    assert(readsBands(shuffled) && !readsBands(collected))
  }

  test("the signature bytes a probe reads stay flat when the index is twice as deep") {
    val words = new java.util.Random(20261021L)
    def corpus(ids: Range): Seq[Doc] =
      ids.map(i => (i.toLong, Vector.fill(8)(s"v${words.nextInt(5000)}").mkString(" ")))
    val deep = corpus(0 until 2 * SigsDepth)
    val shallow = deep.take(SigsDepth)
    // copies of a few indexed documents: candidates with neighbouring ids
    val batch = df(shallow.slice(100, 110).map { case (i, t) => (i + 1000000L, t) })
    /** (sigs bytes on disk, sigs bytes the probe read, hits) */
    def probed(indexed: Seq[Doc]): (Long, Long, Set[(Long, Long, Double)]) = {
      val dir = java.nio.file.Files.createTempDirectory("mh_gen_deep").toString
      Dedup.saveMinHashIndex(df(indexed), dir)
      val hits = Dedup.dedupAgainstMinHashIndex(batch, dir)
      // the lazy result's only file scan is the `sigs` read
      val (rows, jobs) = graft.util.JobGroups.jobsOf(spark)(hitSet(hits))
      val stored = parquetFiles(java.nio.file.Paths.get(dir, "data", "sigs"))
        .map(java.nio.file.Files.size).sum
      (stored, jobs.map(_.inputBytes).sum, rows)
    }
    val (shallowStored, shallowRead, shallowHits) = probed(shallow)
    val (deepStored, deepRead, deepHits) = probed(deep)
    assert(shallowHits == deepHits && shallowHits.size >= 10)
    // a whole-table read would double; the page-skipping read grows only
    // by the deeper file's page index
    assert(shallowRead < shallowStored / 100,
      s"read $shallowRead of $shallowStored sigs bytes")
    assert(deepRead - shallowRead < (deepStored - shallowStored) / 100,
      s"sigs bytes read grew $shallowRead -> $deepRead for ${deepStored - shallowStored} more stored")
  }

  test("an index without the layout line is refused by every entry point") {
    val dir = java.nio.file.Files.createTempDirectory("mh_gen_old").toString
    val hitsOut = java.nio.file.Files.createTempDirectory("mh_gen_oh").toString
    Dedup.saveMinHashIndex(df(crawlA.take(50)), dir)
    // the marker as an index laid before signatures were split out wrote it
    val hp = new org.apache.hadoop.fs.Path(dir, "_graft_minhash_meta")
    val fs = hp.getFileSystem(conf)
    val in = fs.open(hp)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val old = meta.linesIterator.filterNot(_.startsWith("layout=")).map(_ + "\n").mkString
    assert(old != meta)
    val out = fs.create(hp, true)
    try out.write(old.getBytes("UTF-8")) finally out.close()
    val batch = df(crawlB.take(5))
    Seq[(String, () => Unit)](
      "dedupAgainstMinHashIndex" -> (() => { Dedup.dedupAgainstMinHashIndex(batch, dir); () }),
      "appendMinHashIndex" -> (() => Dedup.appendMinHashIndex(batch, dir)),
      "probeAndAppendMinHashIndex" -> (() => Dedup.probeAndAppendMinHashIndex(batch, dir, hitsOut)),
      "compactMinHashIndex" -> (() => Dedup.compactMinHashIndex(spark, dir))
    ).foreach { case (what, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(dir), s"$what: ${e.getMessage}")
    }
  }
}
