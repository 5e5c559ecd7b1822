package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.warc.{SampleWarc, WarcRecord, WarcWriter}

/** Seeded synthetic crawl: hosts with HTML pages, a WET-style text
  * conversion record per page and one robots.txt per host, spread over
  * gzipped WARC archives (one gzip member per record). The generator keeps
  * the truth every workload checks its outputs against: visible tokens per
  * page, Server headers, link targets.
  *
  * Every page's visible text is its token list joined by single spaces,
  * and the host token (`host<h>`) appears exactly once per page, so a
  * word count over a host's pages tells how many of them were read.
  */
object Corpus {

  final case class Spec(hosts: Int, minPages: Int, maxPages: Int, files: Int,
                        minWords: Int = 120, maxWords: Int = 320,
                        vocab: Int = 20000)

  final case class Page(host: Int, idx: Int, tokens: Vector[String],
                        links: Vector[(Int, Int)], anchors: Vector[Vector[String]],
                        file: Int) {
    def url: String = Corpus.pageUrl(host, idx)
    def text: String = tokens.mkString(" ")
  }

  final case class Host(id: Int, server: Option[String], robotsFile: Int)

  final case class Crawl(spec: Spec, hosts: Vector[Host], pages: Vector[Page])

  /** One written record and where it sits in its archive. */
  final case class Coord(path: String, offset: Long, length: Long,
                         recType: String, url: String)

  final case class Written(paths: Vector[String], coords: Vector[Coord],
                           gzBytes: Long, truth: Truth)

  /** What each reference job must produce over the whole crawl. */
  final case class Truth(records: Long, responses: Long, htmlPages: Long,
                         docChars: Long, servers: Map[String, Long],
                         distinctWords: Long, wordTf: Long, wordDf: Long,
                         hostEdges: Long, pagesPerHost: Map[Int, Long],
                         tokensPerHost: Map[Int, Long],
                         recordsPerHost: Map[Int, Long])

  val Servers = Vector("nginx", "Apache", "cloudflare", "Microsoft-IIS/10.0",
    "openresty", "LiteSpeed")
  val NoServer: String = graft.ops.Extractors.NoServer

  def hostName(h: Int): String = s"host$h.example.test"
  def hostToken(h: Int): String = s"host$h"
  def pageUrl(h: Int, i: Int): String = s"https://${hostName(h)}/p$i"

  private val Syllables: Vector[String] =
    for (c <- "bdfgklmnprstvz".toVector; v <- "aeiou".toVector) yield s"$c$v"

  /** Vocabulary word `i`: its base-70 digits spelled as syllables (at
    * least two), so words are unique, lowercase and digit-free.
    */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    var n = 0
    while (x > 0 || n < 2) {
      sb.insert(0, Syllables(x % Syllables.length))
      x /= Syllables.length
      n += 1
    }
    sb.toString
  }

  /** Zipf(1) sampler over the first `n` vocabulary words. */
  final class Zipf(n: Int, s: Double = 1.0) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      out.map(_ / acc)
    }
    def draw(rng: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def crawl(spec: Spec, seed: Long): Crawl = {
    val rng = new java.util.SplittableRandom(seed)
    val zipf = new Zipf(spec.vocab)
    def words(n: Int): Vector[String] = Vector.fill(n)(word(zipf.draw(rng)))
    val pagesPerHost = Vector.fill(spec.hosts)(
      spec.minPages + rng.nextInt(spec.maxPages - spec.minPages + 1))
    val hosts = Vector.tabulate(spec.hosts) { h =>
      // one host in ten sends no Server header
      val server = if (rng.nextInt(10) == 0) None
        else Some(Servers(math.min(zipf.draw(rng), Servers.length - 1)))
      Host(h, server, rng.nextInt(spec.files))
    }
    val pages = for {
      h <- (0 until spec.hosts).toVector
      i <- 0 until pagesPerHost(h)
    } yield {
      val nLinks = 1 + rng.nextInt(3)
      val links = Vector.fill(nLinks) {
        // most links stay on the host; one in three leaves it
        val t = if (rng.nextInt(3) == 0) rng.nextInt(spec.hosts) else h
        (t, rng.nextInt(pagesPerHost(t)))
      }
      val anchors = links.map(_ => words(1 + rng.nextInt(2)))
      val body = words(spec.minWords + rng.nextInt(spec.maxWords - spec.minWords + 1))
      val tokens = (hostToken(h) +: words(4)) ++ body ++ anchors.flatten
      Page(h, i, tokens, links, anchors, rng.nextInt(spec.files))
    }
    Crawl(spec, hosts, pages)
  }

  def html(p: Page): String = {
    val t = p.tokens
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\"><title>"
    sb ++= t.take(3).mkString(" ") ++= "</title></head>\n<body><h1>"
    sb ++= t.slice(3, 5).mkString(" ") ++= "</h1>\n<p>"
    sb ++= t.slice(5, t.length - p.anchors.map(_.length).sum).mkString(" ")
    sb ++= "</p>\n<ul>"
    p.links.zip(p.anchors).foreach { case ((th, ti), a) =>
      val href = if (th == p.host) s"/p$ti" else pageUrl(th, ti)
      sb ++= "<li><a href=\"" ++= href ++= "\">" ++= a.mkString(" ") ++= "</a></li>"
    }
    sb ++= "</ul>\n</body></html>\n"
    sb.toString
  }

  private def uuid(rng: java.util.SplittableRandom): String =
    s"<urn:uuid:${new java.util.UUID(rng.nextLong(), rng.nextLong())}>"

  /** Records of one archive, in page order; robots.txt captures first. */
  private def records(c: Crawl, file: Int, seed: Long): Vector[WarcRecord] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + file)
    val date = "2024-03-01T00:00:00Z"
    val robots = c.hosts.filter(_.robotsFile == file).map { h =>
      val body = s"User-agent: *\nDisallow: /private/\n".getBytes(UTF_8)
      SampleWarc.response(s"https://${hostName(h.id)}/robots.txt", body,
        httpHeaders = Seq("Content-Type" -> "text/plain") ++
          h.server.map("Server" -> _),
        warcHeaders = Map("WARC-Date" -> date, "WARC-Record-ID" -> uuid(rng),
          "WARC-Identified-Payload-Type" -> "text/plain"))
    }
    val pages = c.pages.filter(_.file == file).flatMap { p =>
      val h = c.hosts(p.host)
      val resp = SampleWarc.response(p.url, html(p).getBytes(UTF_8),
        httpHeaders = Seq("Content-Type" -> "text/html; charset=utf-8") ++
          h.server.map("Server" -> _),
        warcHeaders = Map("WARC-Date" -> date, "WARC-Record-ID" -> uuid(rng),
          "WARC-IP-Address" -> s"10.0.${p.host / 250}.${p.host % 250}",
          "WARC-Identified-Payload-Type" -> "text/html"))
      val text = p.text.getBytes(UTF_8)
      val conv = WarcRecord(Map("WARC-Type" -> "conversion",
        "WARC-Target-URI" -> p.url, "WARC-Date" -> date,
        "WARC-Record-ID" -> uuid(rng), "Content-Type" -> "text/plain",
        "Content-Length" -> text.length.toString), text)
      Seq(resp, conv)
    }
    robots ++ pages
  }

  /** Write the crawl's archives under `dir` (created). */
  def write(c: Crawl, dir: Path, seed: Long): Written = {
    Files.createDirectories(dir)
    val perFile = Par.map((0 until c.spec.files).toVector) { f =>
      val path = dir.resolve(f"crawl-$f%03d.warc.gz").toAbsolutePath.toString
      val recs = records(c, f, seed)
      val offs = WarcWriter.writeFile(path, recs)
      val coords = recs.zip(offs).map { case (r, (o, l)) =>
        Coord("file:" + path, o, l, r.recType, r.targetUri.getOrElse(""))
      }
      (path, coords, new java.io.File(path).length())
    }
    Written(perFile.map(_._1), perFile.flatMap(_._2), perFile.map(_._3).sum, truth(c))
  }

  def truth(c: Crawl): Truth = {
    val responses = c.pages.length.toLong + c.hosts.length
    val servers = (c.pages.map(p => c.hosts(p.host)) ++ c.hosts)
      .groupBy(_.server.getOrElse(NoServer)).map { case (k, v) => k -> v.length.toLong }
    val tf = scala.collection.mutable.HashMap.empty[String, Long]
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    c.pages.foreach { p =>
      p.tokens.foreach(t => tf(t) = tf.getOrElse(t, 0L) + 1)
      p.tokens.distinct.foreach(t => df(t) = df.getOrElse(t, 0L) + 1)
    }
    // ExtractHostLinksJob: every HTML page yields its self edge plus one
    // edge per link target host
    val edges = c.pages.flatMap(p => (p.host, p.host) +: p.links.map(l => (p.host, l._1))).distinct
    val byHost = c.pages.groupBy(_.host)
    Truth(
      records = responses + c.pages.length,
      responses = responses,
      htmlPages = c.pages.length,
      docChars = c.pages.map(_.text.length.toLong).sum,
      servers = servers,
      distinctWords = tf.size,
      wordTf = tf.valuesIterator.sum,
      wordDf = df.valuesIterator.sum,
      hostEdges = edges.length,
      pagesPerHost = byHost.map { case (h, ps) => h -> ps.length.toLong },
      tokensPerHost = byHost.map { case (h, ps) => h -> ps.map(_.tokens.length.toLong).sum },
      // html + conversion per page, plus the host's robots.txt
      recordsPerHost = byHost.map { case (h, ps) => h -> (2L * ps.length + 1) })
  }

  def writeManifest(paths: Seq[String], file: Path): String = {
    Files.write(file, paths.map("file:" + _).mkString("", "\n", "\n").getBytes(UTF_8))
    file.toAbsolutePath.toString
  }
}

/** Small fixed-size thread pool for driver-side generation work. */
object Par {
  def map[A, B](xs: Vector[A], threads: Int = 4)(f: A => B): Vector[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
