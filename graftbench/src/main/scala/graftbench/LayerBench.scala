package graftbench

import java.util.zip.GZIPInputStream

import graft.ops.{Extractors, SurtHost}
import graft.warc.{WarcReader, WarcRecord}

/** Driver-thread rates of the `warc` and `ops` layers over a fixed
  * sample of the generated archives: each call is timed from outside, on
  * one thread, while Spark is idle.
  */
object LayerBench {

  /** Repeat `body` (which returns a unit count) for at least `minS`
    * seconds; units per second.
    */
  private def rate(minS: Double = 0.3)(body: => Long): Double = {
    body // one untimed round: class loading and first-call JIT
    var units = 0L
    val t0 = System.nanoTime()
    var dt = 0.0
    while (dt < minS) {
      units += body
      dt = (System.nanoTime() - t0) / 1e9
    }
    units / dt
  }

  private def drain(in: java.io.InputStream): Long = {
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    var r = in.read(buf)
    while (r >= 0) { n += r; r = in.read(buf) }
    in.close()
    n
  }

  private def readAll(path: String): Vector[WarcRecord] = {
    val r = WarcReader.open(path)
    try r.toVector finally r.close()
  }

  def archives(w: Corpus.Written): Map[String, Double] = {
    val sample = w.paths.take(2)
    val recs = sample.flatMap(readAll)
    def fresh(rs: Seq[WarcRecord]) = rs.map(r => WarcRecord(r.headers, r.payload))
    val responses = recs.filter(_.recType == "response")
    val html = responses.filter(graft.warc.Predicates.isHtml)
    html.foreach(_.http) // parsed once: the ops rates below exclude HTTP parsing
    val conversions = recs.filter(_.recType == "conversion")
    val gunzipBytesPerS = rate() {
      sample.map(p => drain(new GZIPInputStream(WarcReader.openRaw(p), 1 << 16))).sum
    }
    val rng = new java.util.SplittableRandom(17L)
    val coords = {
      val rs = w.coords.filter(_.recType == "response")
      Vector.fill(64)(rs(rng.nextInt(rs.length)))
    }
    def rangeRead(c: Corpus.Coord): Double = {
      val t0 = System.nanoTime()
      val in = new GZIPInputStream(WarcReader.openAt(c.path, c.offset), 1 << 14)
      try new WarcReader(in).next() finally in.close()
      (System.nanoTime() - t0) / 1e6
    }
    coords.take(8).foreach(rangeRead)
    Map(
      "warc.gunzip_mb_per_s" -> gunzipBytesPerS / 1e6,
      "warc.parse_records_per_s" -> rate() {
        sample.map { p => val r = WarcReader.open(p); try r.size.toLong finally r.close() }.sum
      },
      "warc.http_parse_records_per_s" -> rate() {
        fresh(responses).count(_.http.isDefined).toLong
      },
      "warc.range_read_ms_p50" -> Stats.median(coords.map(rangeRead)),
      "ops.html_text_records_per_s" -> rate() {
        html.count(r => Extractors.htmlToText(r).isDefined).toLong
      },
      "ops.links_records_per_s" -> rate() {
        html.foreach { r =>
          Extractors.htmlLinks(r).foreach { case (f, t) =>
            SurtHost.surtHostFromUrl(f); SurtHost.surtHostFromUrl(t)
          }
        }
        html.length.toLong
      },
      "ops.tokenize_records_per_s" -> rate() {
        conversions.foreach(r => Extractors.wordCounts(r).size)
        conversions.length.toLong
      })
  }
}
