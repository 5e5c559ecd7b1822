package graft.util

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-minded defaults every graft entry point
  * shares (UTC, AQE on, shuffle partitions sized to the local core count
  * rather than the 200 default that over-shards small local runs).
  */
object Sessions {

  /** `spark.sql.codegen.cache.maxEntries` for every session built here:
    * about four times the generated-class working set measured with an
    * unbounded cache — a whole graftbench `index_maintain` run (set-up,
    * warm-up, two batches with probes and compactions) compiles 203
    * distinct classes, a whole `crawl_scan` run 62. Spark's default LRU
    * of 100 is below the first, so every maintenance batch recompiled
    * ~106 classes (~1.4–2.2 s of compile time per batch on 4 vCPU).
    */
  private val CodegenCacheEntries = 800

  /** The shared session; `conf` adds or overrides settings for one
    * entry point (`graft.Bench`'s state-store cadence, say).
    */
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
            appName: String = "graft",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // iterative jobs (PageRank, connected components) checkpoint every
      // round; without this the files accumulate for the session's life
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // generated-class cache: JVM-global and sized once, by the first
      // session that generates code
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
