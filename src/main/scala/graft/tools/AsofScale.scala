package graft.tools

import graft.operators.{AsOfJoinOps, Relational}
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale harness for the point-in-time family: synthesize an events
  * corpus far beyond the test SFs (default 20 M events over 200 k
  * users) and measure the routes under the workloads they are FOR —
  * wall time, tasks, shuffle bytes, peak per-task memory (the
  * ScalePipeline listener), plus a value checksum that must agree
  * within each arm.
  *
  *  - Zipf(1) arm (hottest user ~8% of all events): composed window
  *    vs the custom AsOfJoin merge operator. Both are one keyed
  *    shuffle + sort; skew shows up as a longer sorted run with
  *    bounded task memory, never a per-key product. Measured at 20 M:
  *    the custom merge runs ~1.7× faster with ~30% less shuffle (it
  *    sorts the two sides separately instead of carrying the whole
  *    union through one window).
  *  - Uniform low-churn arm (~30 versions/user): the SCD2 interval
  *    join vs its own window baseline. Interval dimensions cost
  *    clicks × versions PER KEY, so they require bounded churn —
  *    on the Zipf arm the hot key alone would be ~1.1M clicks ×
  *    ~480k versions ≈ 5×10^11 comparisons (measured to hang, hence
  *    excluded); under real SCD2 churn the route is competitive.
  *
  * Usage: AsofScale [nEvents] [nUsers]
  */
object AsofScale {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val users = args.lift(1).map(_.toLong).getOrElse(200000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.local(cpus, "graft-asof-scale")
    val m = new ScalePipeline.StageMetrics
    spark.sparkContext.addSparkListener(m)

    // Zipf(1)-ish user skew via a log-uniform map: P(user=k) ∝ 1/k, the
    // hottest user holds ~1/ln(users) ≈ 8% of all events — the shape
    // that breaks per-key buffering while leaving enough parallelism
    // that the harness measures the plan, not one task.
    val ev = spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id")), lit(30L * 24 * 3600 * 1000000L))).as("ts"),
      floor(exp((pmod(xxhash64(col("id") + 7), lit(1000000L)) / lit(1000000.0)) *
        log(lit(users.toDouble)))).cast("long").as("user_id"),
      when(pmod(col("id"), lit(10)) < 7, "click").otherwise("purchase")
        .as("event_type"),
      (pmod(xxhash64(col("id") + 13), lit(10000)) / lit(100.0)).as("value"))

    def stage(name: String)(f: => DataFrame): Unit = {
      m.reset()
      val t0 = System.nanoTime()
      val out = f
      val checksum = out.agg(
        count(lit(1)).as("rows"),
        round(sum(col("asof_value")), 2).as("sum_v")).head()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"""[asof-scale] {"route":"$name","n":$n,"users":$users,"wall_s":$wall%.1f,"rows":${checksum.getLong(0)},"sum_value":${checksum.getDouble(1)},"tasks":${m.tasks.sum},"shuffle_write_mb":${m.shuffleWrite.sum / 1e6}%.1f,"peak_task_mem_mb":${m.peakTaskMem.get / 1e6}%.1f}""")
    }

    def windowRoute(e0: DataFrame): DataFrame = {
      val e = e0.filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          when(col("event_type") === "purchase", 0).otherwise(1).as("kind"),
          when(col("event_type") === "purchase", col("value")).as("pv"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("kind"), col("event_id"))
        .rowsBetween(Long.MinValue, 0)
      e.withColumn("av", last(col("pv"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(coalesce(col("av"), lit(-1.0)), 6).as("asof_value"))
    }

    stage("window") { windowRoute(ev) }

    stage("custom-operator") { AsOfJoinOps.enrichClicks(ev) }

    // The SCD2 interval route is deliberately NOT run on the Zipf arm:
    // an interval join's per-key cost is clicks × versions, and the
    // hot user here carries ~8% of 20M events (~1.1M clicks × ~480k
    // versions ≈ 5×10^11 comparisons on ONE key — measured to hang
    // where the merge routes finish in seconds). Interval dimensions
    // are the right tool when version count per entity is BOUNDED —
    // real SCD2 churn — so the route gets its own low-churn arm below:
    // uniform users (~100 events each, ~30 versions), its own window
    // baseline, checksums compared within the pair.
    val evUniform = ev.withColumn("user_id",
      pmod(xxhash64(col("event_id") + 7), lit(users)))

    stage("window-uniform") { windowRoute(evUniform) }

    stage("scd2-interval-uniform") {
      val dim = Relational.scd2(evUniform)
        .select(col("user_id").as("d_user"), col("value"),
          col("valid_from_us"), col("valid_to_us"))
      evUniform.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .join(dim,
          col("user_id") === col("d_user") &&
            col("ts_us") >= col("valid_from_us") &&
            (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")),
          "left")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("value"), lit(-1.0)).as("asof_value"))
    }

    spark.stop()
  }
}
