package graftbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.warc.WarcReader

class CorpusSpec extends AnyFunSuite {

  private val spec = Corpus.Spec(hosts = 6, minPages = 3, maxPages = 6, files = 3,
    minWords = 20, maxWords = 40, vocab = 500)

  private def written(seed: Long): (Corpus.Written, Seq[Array[Byte]]) = {
    val dir = Files.createTempDirectory("graftbench-corpus")
    try {
      val w = Corpus.write(Corpus.crawl(spec, seed), dir, seed)
      (w, w.paths.map(p => Files.readAllBytes(Path.of(p))))
    } finally Tree.delete(dir)
  }

  test("a seed yields byte-identical archives and identical truth") {
    val (a, aBytes) = written(7L)
    val (b, bBytes) = written(7L)
    assert(aBytes.length == spec.files)
    assert(aBytes.zip(bBytes).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(a.truth == b.truth)
    assert(a.coords.map(c => (c.offset, c.length, c.recType, c.url)) ==
      b.coords.map(c => (c.offset, c.length, c.recType, c.url)))
  }

  test("another seed yields other archives") {
    val (_, aBytes) = written(7L)
    val (_, cBytes) = written(8L)
    assert(!aBytes.zip(cBytes).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("the truth matches the records written") {
    val dir = Files.createTempDirectory("graftbench-corpus")
    try {
      val c = Corpus.crawl(spec, 3L)
      val w = Corpus.write(c, dir, 3L)
      val recs = w.paths.flatMap { p => val r = WarcReader.open(p); try r.toVector finally r.close() }
      assert(recs.length == w.truth.records)
      assert(recs.count(_.recType == "response") == w.truth.responses)
      assert(recs.count(_.recType == "conversion") == w.truth.htmlPages)
      // every page's HTML extracts to exactly its token list
      val html = recs.filter(r => r.recType == "response" && graft.warc.Predicates.isHtml(r))
      val byUrl = c.pages.map(p => p.url -> p.text).toMap
      html.foreach(r => assert(graft.ops.Extractors.htmlToText(r).contains(byUrl(r.targetUri.get))))
      // the host token appears once per page
      c.pages.foreach(p => assert(p.tokens.count(_ == Corpus.hostToken(p.host)) == 1))
    } finally Tree.delete(dir)
  }

  test("a seed yields the same index_maintain plan") {
    def plan(seed: Long) = IndexMaintain.plan(Corpus.crawl(spec, seed), seed,
      seedDocs = 6, batchDocs = 8, batches = 2, probesPerBatch = 2)
    val (a, b) = (plan(5L), plan(5L))
    assert(a == b)
    // one planted near-duplicate per batch of 8, each hitting its source
    assert(a.hits.forall(_.nonEmpty))
    assert(a.batches.flatten.count(_.id >= IndexMaintain.DupOffset) == 2)
  }
}
