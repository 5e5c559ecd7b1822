package graft.util

import org.apache.spark.sql.DataFrame

/** Reliable eager checkpointing for iterative jobs (PageRank, connected
  * components). `localCheckpoint` stores blocks on executors: on a real
  * cluster a single lost executor kills the lineage-less job mid-iteration.
  * `checkpoint()` writes to the (HDFS-able) checkpoint dir, so recovery
  * reads files instead of dying. Configure `spark.graft.checkpointDir` to
  * point at durable storage on a cluster; local runs fall back to a temp
  * dir.
  */
object Checkpoints {

  /** Eagerly checkpoint `df` to reliable storage, setting the checkpoint
    * dir on first use if the session has none.
    *
    * On a non-local master the fallback temp dir would be a *driver-local*
    * path that executors can't read back — silently reintroducing the
    * failure mode this class exists to fix — so there it is an error, not
    * a fallback: require `spark.graft.checkpointDir` (or a pre-set
    * SparkContext checkpoint dir) pointing at shared storage.
    */
  /** Resolve the dir to use: the configured one, or — only under a local
    * master — a temp-dir fallback.
    */
  private[util] def resolveDir(isLocal: Boolean, master: String,
                               configured: Option[String]): String =
    configured.getOrElse {
      require(isLocal,
        "spark.graft.checkpointDir must point at durable shared storage " +
          s"on a cluster (master=$master); a local temp-dir fallback " +
          "would leave checkpoint partitions on per-node disks")
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    }

  /** Per-iteration materializer for loops like PageRank / connected
    * components whose next round reads the previous state in MORE than
    * one plan branch (re-evaluating unmaterialized lineage there fans
    * out exponentially). Non-checkpoint rounds are eagerly
    * memory-persisted; every `interval`-th round goes through a
    * reliable checkpoint, bounding lineage depth and surviving executor
    * loss. On failure, recovery recomputes at most `interval-1` rounds
    * from the last checkpoint.
    *
    * interval=1 (checkpoint every round) measures FASTEST locally —
    * a local-fs checkpoint write is cheaper than the columnar encode
    * `persist` pays — and is the default. On a cluster whose
    * checkpoint dir is remote storage (HDFS/S3), raise
    * `spark.graft.checkpointInterval` to 2-4 to trade recovery time
    * for a network round-trip per round (tools/IterAB to measure).
    */
  final class IterationCheckpointer(interval: Int = 1) {
    require(interval >= 1)
    private var round = 0
    private var prevCached: DataFrame = null

    def next(df: DataFrame): DataFrame = {
      round += 1
      val out =
        if (round % interval == 0) { reliable(df) }
        else {
          val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          c.count()
          c
        }
      if (prevCached != null) prevCached.unpersist(blocking = false)
      prevCached = if (round % interval == 0) null else out
      out
    }
  }

  /** Eager materialization for a multi-consumer table that FEEDS a
    * query result, master-adaptive:
    *
    *  - LOCAL master: `localCheckpoint()` — executors live in the
    *    driver process, so the lineage-loss failure mode reliable()
    *    guards against cannot outlive a failure the job itself
    *    survives; memory blocks are the cheapest read for every
    *    consumer (a reliable checkpoint measured ~2× on the ngram
    *    pair-table sites at sf0.1 — file write + per-consumer file
    *    read vs memory blocks, tools/IterAB round 17).
    *  - CLUSTER master: [[reliable]] — an executor loss costs a
    *    re-read of the checkpoint files instead of failing every
    *    consuming action (the 100 TB availability story; blocks of a
    *    localCheckpoint die with their executor).
    *
    * `spark.graft.checkpoint.mode` (`local` | `reliable`) overrides.
    */
  implicit class ReliableOps(private val df: DataFrame) extends AnyVal {
    def stableCheckpoint(): DataFrame =
      df.sparkSession.conf.getOption("spark.graft.checkpoint.mode") match {
        case Some("local") => df.localCheckpoint()
        case Some("reliable") => reliableOnce(df)
        case _ =>
          if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint()
          else reliableOnce(df)
      }
  }

  def reliable(df: DataFrame): DataFrame = {
    // first-use dir init is synchronized: independent frames are
    // materialized from several driver threads at once (DriverPar —
    // Spark runs their jobs in parallel, where sequential eager
    // checkpoints serialized pipelines a single lazy DAG overlapped;
    // values are unaffected, each frame materializes exactly once),
    // and two racing setCheckpointDir calls would leave one thread's
    // checkpoint in a dir the other just replaced
    ensureDir(df)
    // plain checkpoint: the write job recomputes the frame, which for
    // ITERATION rounds reads the previous round's files + cached graph
    // and measured FASTER than a persist-bracketed write locally
    // (persist's columnar encode + per-round cache churn cost more
    // than the cheap recompute — IterAB round 17: dedup_clusters
    // 2.8→4.5 s, graph_hits 3.1→4.6 s with the bracket). One-shot
    // expensive pipelines use [[reliableOnce]] instead.
    df.checkpoint()
  }

  /** [[reliable]] with the persist-bracketed write (the documented
    * persist-before-checkpoint rule): the checkpoint write job reads
    * cached blocks instead of RECOMPUTING the frame — for one-shot
    * tables whose pipeline is the dominant cost (tokenize/shingle
    * passes, pair tables), the bracket halves the materialization.
    */
  def reliableOnce(df: DataFrame): DataFrame = {
    ensureDir(df)
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try c.checkpoint() finally { c.unpersist(blocking = false); () }
  }

  private def ensureDir(df: DataFrame): Unit = synchronized {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = resolveDir(sc.isLocal, sc.master,
        df.sparkSession.conf.getOption("spark.graft.checkpointDir"))
      sc.setCheckpointDir(dir)
      // iterative jobs checkpoint every round; without this the files
      // accumulate for the life of the session
      if (!sc.getConf.contains("spark.cleaner.referenceTracking.cleanCheckpoints"))
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          "set spark.cleaner.referenceTracking.cleanCheckpoints=true to " +
            s"reclaim per-iteration checkpoints under $dir")
    }
  }
}
