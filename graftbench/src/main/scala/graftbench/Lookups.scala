package graftbench

import graft.jobs.CCIndexWarcJob
import graft.sources.CoordinateSource

/** The index → payload join over a ccindex built by
  * CCIndexWarcJob.buildIndex: one closed-loop client issues seeded lookups
  * through CCIndexWarcJob.wordCount — SQL over the index, ranged fetch,
  * HTML → text, word aggregate, collect. Four narrow lookups (one host) to
  * one wide one (ten hosts). Each lookup's page count and token total are
  * checked against the generator's per-host truth.
  */
final class Lookups(run: Run, hosts: Int) {
  private val spark = run.spark
  private var rng: java.util.SplittableRandom = _
  private var issued = 0
  restart()

  /** Start the seeded lookup sequence over: every measured phase issues
    * the same mix in the same order.
    */
  def restart(): Unit = {
    rng = new java.util.SplittableRandom(run.args.seed ^ 0x5DEECE66DL)
    issued = 0
  }
  private var coordsReturned = 0L
  private var truth: Corpus.Truth = _
  private var indexPath: String = _

  /** Bytes of the ccindex and the re-written archives it points into. */
  var indexBytes = 0L

  def build(w: Corpus.Written, dir: java.nio.file.Path): Unit = {
    truth = w.truth
    indexPath = dir.resolve("ccindex").toString
    CCIndexWarcJob.buildIndex(spark, w.paths.map("file:" + _),
      "file:" + dir.resolve("indexed"), "file:" + indexPath)
    indexBytes = Tree.bytes(dir.resolve("ccindex")) + Tree.bytes(dir.resolve("indexed"))
  }

  private def sql(hs: Seq[Int]): String =
    "SELECT url, warc_filename, warc_record_offset, warc_record_length FROM ccindex " +
      "WHERE warc_type = 'response' AND (" +
      hs.map(h => s"url LIKE 'https://${Corpus.hostName(h)}/%'").mkString(" OR ") + ")"

  /** One lookup, timed as a probe step; returns its latency. */
  def next(): Double = {
    issued += 1
    val n = if (issued % 5 == 0) 10 else 1
    val hs = Iterator.continually(rng.nextInt(hosts)).distinct.take(n).toVector
    val q = sql(hs)
    if (run.traced) run.aux("plan") {
      run.span("sources", "fromIndexQuery") {
        CoordinateSource.fromIndexQuery(spark, indexPath, q).queryExecution.executedPlan
      }
    }
    val secs = run.step("probe", if (n == 1) "narrow" else "wide") {
      CCIndexWarcJob.wordCount(spark, indexPath, q, numPartitions = 4).collect()
    } { rows =>
      val tf = rows.map(_.getStruct(1).getLong(0)).sum
      val df = rows.map(r => r.getString(0) -> r.getStruct(1).getLong(1)).toMap
      val pages = hs.map(h => df.getOrElse(Corpus.hostToken(h), 0L)).sum
      val want = (hs.map(truth.pagesPerHost).sum, hs.map(truth.tokensPerHost).sum)
      if ((pages, tf) == want) None else Some(s"pages, tokens: got ${(pages, tf)}, want $want")
    }
    if (run.traced) {
      val (rows, _) = run.aux("coords") {
        run.span("sources", "coords") {
          CoordinateSource.fromIndexQuery(spark, indexPath, q).collect().length
        }
      }
      coordsReturned += rows
    }
    secs
  }

  def layerMetrics(): Map[String, Double] = {
    def p50ms(name: String) = {
      val ss = run.tracer.all.filter(s => s.layer == "sources" && s.name == name)
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.durS)) * 1e3
    }
    val a = run.acct
    val coordsJobS = a.perOp("coords", "wall_s") - a.perOp("coords", "driver_only_s")
    val wall = a.perOp("probe", "wall_s")
    Map(
      "sources.plan_ms_p50" -> p50ms("fromIndexQuery"),
      "sources.coords_ms_p50" -> p50ms("coords"),
      "sources.rows_examined_per_row_returned" ->
        (if (coordsReturned == 0) 0.0 else a.total("coords", "input_records") / coordsReturned),
      // a lookup's time outside any Spark job, plus the executor time of
      // its coordinate query, as a share of the lookup
      "attrib.driver_sources_share_of_lookup" ->
        (if (wall > 0) (a.perOp("probe", "driver_only_s") + coordsJobS) / wall else 0.0))
  }
}
