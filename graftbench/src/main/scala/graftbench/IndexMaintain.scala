package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.dedup.Dedup
import graft.text.InvertedIndex
import graft.util.ManifestCommit

/** `index_maintain`: writes beside reads. Set-up derives a documents
  * table from the crawl with planted near-duplicates and seeds a MinHash
  * and a BM25 index over it. One unit replays a fixed seeded sequence of
  * ingest batches from the seeded state: each batch runs
  * Dedup.probeAndAppendMinHashIndex and InvertedIndex.appendDelta, BM25
  * probes run between batches, and both indexes compact after every
  * `compactEvery`-th batch. Every replay starts from a fresh copy of the seeded indexes, so
  * every replay walks the same index states.
  */
final class IndexMaintain(run: Run, spec: Corpus.Spec, seedDocs: Int, batchDocs: Int,
                          batches: Int, compactEvery: Int, probesPerBatch: Int) extends Workload {
  import IndexMaintain._

  private val spark = run.spark
  private var plan: Plan = _
  private var docsDir: Path = _
  private var pristine: Path = _
  private val live = run.args.work.resolve("maintain-live")
  private def mh = live.resolve("minhash").toString
  private def bm = live.resolve("bm25").toString
  private def hits = live.resolve("hits").toString
  private val utilRows = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var writtenBytes = 0L
  private var ingestedTextBytes = 0L
  private var hitCount = 0L
  private var batchesRun = 0L

  def setup(rep: Int): Unit = {
    Tree.delete(run.args.work.resolve(s"maintain-${rep - 1}"))
    val dir = run.dir(s"maintain-$rep")
    plan = IndexMaintain.plan(Corpus.crawl(spec, run.args.seed), run.args.seed,
      seedDocs, batchDocs, batches, probesPerBatch)
    docsDir = dir.resolve("docs")
    writeDocs(plan.seed, docsDir.resolve("seed"))
    plan.batches.zipWithIndex.foreach { case (b, i) => writeDocs(b, docsDir.resolve(s"batch-$i")) }
    pristine = dir.resolve("index")
    val seed = spark.read.parquet(docsDir.resolve("seed").toString)
    Dedup.saveMinHashIndex(seed, pristine.resolve("minhash").toString)
    InvertedIndex.save(seed, pristine.resolve("bm25").toString)
  }

  private def writeDocs(docs: Seq[Doc], to: Path): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(to.toString)
  }

  private def batchDf(i: Int): DataFrame = spark.read.parquet(docsDir.resolve(s"batch-$i").toString)

  private def restore(): Unit = {
    Tree.copy(pristine, live)
    Files.createDirectories(live.resolve("hits"))
  }

  /** Replay the first `upTo` batches from the seeded state; returns the
    * latencies of the ingest batches.
    */
  private def replay(upTo: Int): Seq[Double] = {
    restore()
    val conf = spark.sessionState.newHadoopConf()
    (0 until upTo).map { i =>
      val bid = s"b$i"
      val df = batchDf(i)
      val before = if (run.traced) Tree.files(live) else Nil
      val secs = run.step("op", "batch") {
        run.span("dedup", "probe_append") {
          Dedup.probeAndAppendMinHashIndex(df, mh, hits, batchId = Some(bid))
        }
        run.span("text", "append") { InvertedIndex.appendDelta(df, bm, Some(bid)) }
      } { _ =>
        val got = spark.read.parquet(s"$hits/batch_id=$bid").select("new_id", "idx_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        if (run.measuring) { hitCount += got.size; batchesRun += 1 }
        val want = plan.hits(i)
        if (got == want) None
        else Some(s"batch $i MinHash hits: ${(got -- want).size} unexpected, ${(want -- got).size} missing")
      }
      if ((i + 1) % compactEvery == 0) run.step("compact", "both") {
        run.span("dedup", "compact") { Dedup.compactMinHashIndex(spark, mh) }
        run.span("text", "compact") { InvertedIndex.compact(spark, bm) }
      }(_ => None)
      if (run.traced) utilAfterBatch(conf, before, plan.batchTextBytes(i))
      plan.probes(i).foreach { case (terms, want) =>
        run.step("probe", "bm25") {
          run.span("text", "probe") { InvertedIndex.probe(spark, bm, terms, k = 10).collect() }
        } { rows =>
          val got = rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq }
          val bad = terms.filter(t => got.getOrElse(t, Nil) != want.getOrElse(t, Nil))
          if (bad.isEmpty) None
          else Some(s"BM25 top-10 for ${bad.mkString(",")} after batch $i: got ${got.get(bad.head)}, want ${want.get(bad.head)}")
        }
      }
      secs
    }
  }

  /** Index state after a batch (and its compaction): manifest read time,
    * parquet files, bytes, generations, and the bytes newly written.
    */
  private def utilAfterBatch(conf: org.apache.hadoop.conf.Configuration,
                             before: Seq[(String, Long)], textBytes: Long): Unit = {
    val (_, secs) = run.aux("manifest") {
      run.span("util", "manifest_read") { ManifestCommit.current(conf, mh); ManifestCommit.current(conf, bm) }
    }
    val after = Tree.files(live.resolve("minhash")) ++ Tree.files(live.resolve("bm25"))
    val old = before.toMap
    writtenBytes += after.filter { case (p, _) => !old.contains(p) }.map(_._2).sum
    ingestedTextBytes += textBytes
    utilRows += Map(
      "manifest_read_ms" -> secs * 1e3 / 2,
      "index_files" -> after.count(_._1.endsWith(".parquet")).toDouble,
      "index_mb" -> after.map(_._2).sum / 1e6,
      "generations" -> after.count(_._1.contains("/_manifests/m")).toDouble)
  }

  /** The first batch and its probe, on a fresh copy of the seeded indexes
    * (a whole replay would not fit the run budget).
    */
  def warmChunk(): Seq[Double] = replay(1)

  def unit(): Unit = {
    replay(batches)
    run.addWork(plan.batches.map(_.length).sum)
  }

  def inputs: Map[String, Any] = Map(
    "seed_docs" -> plan.seed.length, "batch_docs" -> batchDocs, "batches" -> batches,
    "near_duplicates" -> plan.batches.flatten.count(_.id >= DupOffset),
    "text_mb" -> plan.textBytes / 1e6, "seeded_index_mb" -> Tree.bytes(pristine) / 1e6,
    "probes_per_batch" -> probesPerBatch, "compact_every" -> compactEvery)

  def storedBytesPerInputByte: Double = {
    val idx = Tree.bytes(live.resolve("minhash")) + Tree.bytes(live.resolve("bm25"))
    idx.toDouble / plan.textBytes
  }

  def layerMetrics(): Map[String, Double] = {
    val spans = run.tracer.all
    def p50(layer: String, name: String) = {
      val ss = spans.filter(s => s.layer == layer && s.name == name)
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durS))
    }
    def mean(k: String) = if (utilRows.isEmpty) 0.0 else utilRows.map(_(k)).sum / utilRows.length
    Map(
      "dedup.probe_append_s_p50" -> p50("dedup", "probe_append"),
      "dedup.compact_s_p50" -> p50("dedup", "compact"),
      "dedup.hits_per_batch" -> (if (batchesRun == 0) 0.0 else hitCount.toDouble / batchesRun),
      "text.append_s_p50" -> p50("text", "append"),
      "text.probe_s_p50" -> p50("text", "probe"),
      "text.compact_s_p50" -> p50("text", "compact"),
      "util.manifest_read_ms_p50" ->
        (if (utilRows.isEmpty) 0.0 else Stats.median(utilRows.map(_("manifest_read_ms")).toSeq)),
      "util.index_files" -> mean("index_files"),
      "util.index_mb" -> mean("index_mb"),
      "util.generations" -> mean("generations"),
      "util.write_bytes_per_input_byte" ->
        (if (ingestedTextBytes == 0) 0.0 else writtenBytes.toDouble / ingestedTextBytes))
  }
}

object IndexMaintain {

  final case class Doc(id: Long, tokens: Vector[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** The seeded documents, the batch sequence, and each step's expected
    * result: MinHash hits per batch, and BM25 top-10 per probe term.
    */
  final case class Plan(seed: Vector[Doc], batches: Vector[Vector[Doc]],
                        hits: Vector[Set[(Long, Long)]],
                        probes: Vector[Seq[(Seq[String], Map[String, Seq[(Long, Double)]])]]) {
    def batchTextBytes(i: Int): Long = batches(i).map(_.text.length.toLong).sum
    def textBytes: Long = (seed ++ batches.flatten).map(_.text.length.toLong).sum
  }

  val DupOffset = 100000000L

  def plan(c: Corpus.Crawl, seed: Long, seedDocs: Int, batchDocs: Int, batches: Int,
           probesPerBatch: Int): Plan = {
    val rng = new java.util.SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    val pages = {
      val ps = c.pages.toArray
      // seeded Fisher-Yates: batches mix hosts
      for (i <- ps.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = ps(i); ps(i) = ps(j); ps(j) = t
      }
      ps.toVector.zipWithIndex.map { case (p, i) => Doc(i.toLong, p.tokens) }
    }
    require(pages.length >= seedDocs + batches * batchDocs,
      s"corpus has ${pages.length} pages, needs ${seedDocs + batches * batchDocs}")
    val seedSet = pages.take(seedDocs)
    val zipf = new Corpus.Zipf(c.spec.vocab)
    // every 8th batch document is a near-duplicate of a seed document: one
    // token near its end replaced
    var nextDup = DupOffset
    val family = mutable.HashMap.empty[Long, Vector[Long]] // source → dups indexed so far
    var fresh = seedDocs
    val bs = Vector.newBuilder[Vector[Doc]]
    val hs = Vector.newBuilder[Set[(Long, Long)]]
    for (_ <- 0 until batches) {
      val batch = Vector.newBuilder[Doc]
      val batchHits = Set.newBuilder[(Long, Long)]
      val newDups = mutable.ArrayBuffer.empty[(Long, Long)]
      for (j <- 0 until batchDocs) {
        if (j % 8 == 7) {
          val src = seedSet(rng.nextInt(seedDocs))
          val pos = src.tokens.length - 2 - rng.nextInt(3)
          val d = Doc(nextDup, src.tokens.updated(pos, Corpus.word(zipf.draw(rng))))
          nextDup += 1
          (src.id +: family.getOrElse(src.id, Vector.empty)).foreach(x => batchHits += ((d.id, x)))
          newDups += ((src.id, d.id))
          batch += d
        } else {
          batch += pages(fresh)
          fresh += 1
        }
      }
      newDups.foreach { case (s, d) => family(s) = family.getOrElse(s, Vector.empty) :+ d }
      bs += batch.result()
      hs += batchHits.result()
    }
    val bv = bs.result()
    // BM25 truth: the index after batch i holds the seed and batches 0..i
    val vocabTerms = (0 until 400).map(Corpus.word)
    val bm = new Bm25(seedSet)
    val probes = bv.map { b =>
      bm.add(b)
      (0 until probesPerBatch).map { _ =>
        val terms = Iterator.continually(vocabTerms(math.min(zipf.draw(rng), vocabTerms.length - 1)))
          .distinct.take(2).toVector
        (terms: Seq[String], terms.map(t => t -> bm.top(t, 10)).toMap)
      }
    }
    Plan(seedSet, bv, hs.result(), probes)
  }

  /** Driver-side BM25 (k1 = 1.2, b = 0.75) over the documents added so
    * far, scored and rounded the way graft's InvertedIndex.probe defines
    * it; ties break by doc_id.
    */
  final class Bm25(initial: Seq[Doc]) {
    private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Int)]]
    private var nDocs = 0L
    private var totalDl = 0L
    add(initial)

    def add(docs: Seq[Doc]): Unit = docs.foreach { d =>
      nDocs += 1
      totalDl += d.tokens.length
      d.tokens.groupBy(identity).foreach { case (t, occ) =>
        postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((d.id, occ.length.toLong, d.tokens.length))
      }
    }

    def top(term: String, k: Int): Seq[(Long, Double)] = {
      val ps = postings.getOrElse(term, mutable.ArrayBuffer.empty)
      val df = ps.length.toLong
      val avgdl = totalDl.toDouble / nDocs
      val (k1, b) = (1.2, 0.75)
      val idf = StrictMath.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
      ps.map { case (id, tf, dl) =>
        val s = idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
    }
  }
}
