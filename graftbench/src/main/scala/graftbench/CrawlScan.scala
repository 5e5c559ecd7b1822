package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{ExtractHostLinksJob, JobConfig, JobCounters, ServerCountJob, WordCountJob}
import graft.ops.Extractors
import graft.warc.WarcSource

/** A workload: set-up (repeatable), a warm-up chunk, and one unit of
  * measured work. Units record their own steps on the [[Run]].
  */
trait Workload {
  /** Build the inputs; each repetition builds its own copy, the last one
    * is what the measured phase uses.
    */
  def setup(rep: Int): Unit
  /** Warm-up: run a chunk of ops and return their latencies. */
  def warmChunk(): Seq[Double]
  /** Called once before the first measured unit. */
  def startMeasure(): Unit = ()
  /** One unit of measured work (ops, probes, and the work they did). */
  def unit(): Unit
  /** Bytes the workload keeps on disk ÷ bytes it was given. */
  def storedBytesPerInputByte: Double
  /** Layer metrics only this workload can give (traced runs). */
  def layerMetrics(): Map[String, Double]
  /** Input sizes, for the run's details record. */
  def inputs: Map[String, Any]
}

/** The reference jobs over a manifest, each writing through JobConfig. */
object CrawlJobs {

  def documents(spark: SparkSession, manifest: String, parts: Int): DataFrame = {
    import spark.implicits._
    WarcSource.fromManifest(spark, manifest, parts)
      .flatMap { case (_, r) =>
        for (u <- r.targetUri; t <- Extractors.htmlToText(r) if t.trim.nonEmpty) yield (u, t)
      }
      .toDF("url", "text")
      .select(xxhash64(col("url")).as("doc_id"), col("url"), col("text"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def wordCount(spark: SparkSession, manifest: String, parts: Int): DataFrame =
    WordCountJob.aggregate(spark, WarcSource.fromManifest(spark, manifest, parts))

  def hostLinks(spark: SparkSession, manifest: String, parts: Int): DataFrame =
    ExtractHostLinksJob.edges(spark, WarcSource.fromManifest(spark, manifest, parts),
      Some(JobCounters(spark)))
}

/** `crawl_scan`: the paper's batch path and its index → payload read
  * path over one generated crawl. One unit = one pass (manifest →
  * WarcSource → documents, word_count, server_count, host_links, each
  * written through JobConfig) and then `lookupsPerPass` ccindex lookups
  * ([[Lookups]], timed as probes). A pass is checked by reading its four
  * tables back against the generator's truth.
  */
final class CrawlScan(run: Run, spec: Corpus.Spec, lookupsPerPass: Int) extends Workload {
  private val spark = run.spark
  private var written: Corpus.Written = _
  private var manifest: String = _
  private val lookups = new Lookups(run, spec.hosts)
  private val out = run.dir("crawl_out")
  private def table(t: String) = out.resolve(t).toString
  private val tables = Seq("documents", "word_count", "server_count", "host_links")

  /** Generate the archives, write the manifest, build the ccindex. */
  def setup(rep: Int): Unit = {
    Tree.delete(run.args.work.resolve(s"crawl-${rep - 1}"))
    val dir = run.dir(s"crawl-$rep")
    written = Corpus.write(Corpus.crawl(spec, run.args.seed), dir.resolve("warc"), run.args.seed)
    manifest = Corpus.writeManifest(written.paths, dir.resolve("manifest.txt"))
    lookups.build(written, dir)
  }

  private def pass(): Double = {
    val parts = spec.files
    def cfg(t: String) = JobConfig(manifest, table(t), numInputPartitions = parts)
    run.step("op", "pass") {
      run.span("jobs", "documents") {
        JobConfig.write(CrawlJobs.documents(spark, manifest, parts), cfg("documents"))
      }
      run.span("jobs", "word_count") {
        JobConfig.write(CrawlJobs.wordCount(spark, manifest, parts), cfg("word_count"))
      }
      run.span("jobs", "server_count") { ServerCountJob.run(spark, cfg("server_count")) }
      run.span("jobs", "host_links") {
        JobConfig.write(CrawlJobs.hostLinks(spark, manifest, parts), cfg("host_links"))
      }
    }(_ => check())
  }

  /** The pass's four tables read back against the truth. */
  private def check(): Option[String] = {
    val t = written.truth
    val docs = spark.read.parquet(table("documents")).agg(count(lit(1)), sum("n_chars")).head()
    val words = spark.read.parquet(table("word_count"))
      .agg(count(lit(1)), sum("val.tf"), sum("val.df")).head()
    val servers = spark.read.parquet(table("server_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val edges = spark.read.parquet(table("host_links")).count()
    Seq(
      ("documents rows, chars", (docs.getLong(0), docs.getLong(1)), (t.htmlPages, t.docChars)),
      ("word_count words, tf, df", (words.getLong(0), words.getLong(1), words.getLong(2)),
        (t.distinctWords, t.wordTf, t.wordDf)),
      ("server_count", servers, t.servers),
      ("host_links edges", edges, t.hostEdges)
    ).collectFirst { case (what, got, want) if got != want => s"$what: got $got, want $want" }
  }

  /** A pass and one lookup, so the lookup path warms up too. */
  def warmChunk(): Seq[Double] = { val s = pass(); lookups.next(); Seq(s) }

  override def startMeasure(): Unit = lookups.restart()

  def unit(): Unit = {
    pass()
    run.addWork(written.truth.records)
    (1 to lookupsPerPass).foreach(_ => lookups.next())
  }

  def inputs: Map[String, Any] = Map(
    "archives" -> written.paths.length, "records" -> written.truth.records,
    "html_pages" -> written.truth.htmlPages, "archive_mb_gz" -> written.gzBytes / 1e6,
    "ccindex_rows" -> written.coords.length, "ccindex_and_indexed_mb" -> lookups.indexBytes / 1e6,
    "lookups_per_pass" -> lookupsPerPass)

  /** Output tables plus the ccindex and its archives ÷ input archives. */
  def storedBytesPerInputByte: Double =
    (tables.map(t => Tree.bytes(out.resolve(t))).sum + lookups.indexBytes).toDouble / written.gzBytes

  def layerMetrics(): Map[String, Double] = {
    val jobSpans = run.tracer.all.filter(_.layer == "jobs").groupBy(_.name)
    val perJob = tables.map { t =>
      s"jobs.${t}_s_p50" -> jobSpans.get(t).map(ss => Stats.median(ss.map(_.durS))).getOrElse(0.0)
    }.toMap
    val rates = LayerBench.archives(written)
    perJob ++ rates ++ lookups.layerMetrics() +
      ("attrib.warc_ops_share_of_executor_cpu" -> warcOpsShare(rates))
  }

  /** Driver-thread layer rates × the records one pass pushes through each
    * layer, as a share of the executor CPU a pass used. Every job parses
    * every record; documents, server_count and host_links parse HTTP.
    */
  private def warcOpsShare(r: Map[String, Double]): Double = {
    val t = written.truth
    val estS = 4.0 * t.records / r("warc.parse_records_per_s") +
      (t.htmlPages + 2.0 * t.responses) / r("warc.http_parse_records_per_s") +
      t.htmlPages / r("ops.html_text_records_per_s") +
      t.htmlPages / r("ops.links_records_per_s") +
      t.htmlPages / r("ops.tokenize_records_per_s")
    val cpuS = run.acct.perOp("op", "cpu_ns") / 1e9
    if (cpuS > 0) estS / cpuS else 0.0
  }
}
