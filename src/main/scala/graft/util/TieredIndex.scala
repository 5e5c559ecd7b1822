package graft.util

import org.apache.spark.sql.DataFrame

/** Size-tiered LSM POLICY shared by the persisted indexes, over the
  * versioned-manifest layout ([[ManifestTiered]]): a tiered table
  * `name` lives as the partitioned BASE (probes prune it statically),
  * LEVEL-1 runs of flat sorted files (one per minor compaction,
  * footer-stat pruned), and the flat LEVEL-0 tail where appends land
  * as a handful of unpartitioned dirs — so a micro-batch append never
  * pays a 100+-partition-dir commit.
  *
  * Why tiers: the r12 design folded the tail straight into the base, so
  * EVERY compaction rewrote the whole index (measured 48.6 s / 27.2 GB
  * of shuffle at 1 M docs to fold appends that cost 0.5 s each) — on a
  * years-deep index each maintenance cycle becomes a full rewrite. With
  * tiers, the routine fold is tail → one new L1 run (O(tail) IO); runs
  * re-merge into ONE run when their count passes [[MaxL1Runs]] (O(L1)
  * IO, base untouched); the base rewrite happens only when the L1 mass
  * reaches [[MajorRatio]] × base — so its O(base) cost amortizes over
  * O(base) of appended bytes, and per-cycle compaction IO follows the
  * TAIL, not the accumulated index. Every row is rewritten at most
  * ~3 times on its way into the base (tail → run → base, plus at most
  * one run re-merge between), the classic size-tiered
  * write-amplification bound.
  *
  * This module owns the policy decision and the flat-run lay shape;
  * [[ManifestTiered]] owns the layout, the read-side union, and the
  * manifest publishes.
  */
object TieredIndex {

  /** Rewrite the base only when level-1 (+tail) mass reaches this
    * fraction of the base — the size-ratio trip that makes major
    * compaction IO amortize to O(appended bytes).
    */
  val MajorRatio = 1.0

  /** Run-count backstop: probes union one scan per run, so runs
    * re-merge into a single run (base untouched) past this count even
    * when the size ratio hasn't tripped.
    */
  val MaxL1Runs = 8

  /** What this compaction cycle should do to a tiered table. */
  sealed trait CompactAction
  /** Nothing to fold (empty tail, no runs worth touching). */
  case object NoOp extends CompactAction
  /** Fold the tail into a NEW level-1 run (`run=<newRunId>`); O(tail). */
  final case class Minor(newRunId: Long) extends CompactAction
  /** Re-merge all runs + tail into ONE run (`run=0`); O(L1), base untouched. */
  case object MergeRuns extends CompactAction
  /** Fold base + runs + tail into a new base; O(base), ratio-gated. */
  case object Major extends CompactAction

  /** Per-tier mass of one table. Measured in ROWS, not file bytes:
    * index rows are fixed-width, so rows ∝ data bytes at any scale,
    * while raw file sizes are skewed by the per-file parquet footer
    * overhead of the base's many small partition files (at small scale
    * a 512-file base "outweighs" a compact flat tail holding twice its
    * rows, and the ratio trip would mis-fire). Row counts ride the
    * manifest's DirEntry records ([[ManifestTiered.sizes]]).
    */
  final case class TierSizes(base: Long, l1: Long, tail: Long, runCount: Int)

  /** The policy decision for a tiered table, from its per-tier mass. */
  def plan(sizes: TierSizes,
           majorRatio: Double = MajorRatio,
           maxRuns: Int = MaxL1Runs): CompactAction = {
    if (sizes.tail + sizes.l1 == 0L) NoOp
    else if (sizes.tail + sizes.l1 >= majorRatio * sizes.base) Major
    else if (sizes.runCount + (if (sizes.tail > 0) 1 else 0) > maxRuns) MergeRuns
    else if (sizes.tail > 0) Minor(-1L) // run id resolved by the caller
    else NoOp
  }

  /** Lay `rows` as a handful of FLAT range-partitioned files sorted on
    * `sortKeys` — the LEVEL-1 run layout. Runs deliberately skip the
    * base's partition-dir tree: a Minor fold's cost floor was the
    * 2×(partition count)-dir commit (~12 ms/dir — at toy scale the
    * whole fold was commit machinery, rows irrelevant), while a flat
    * sorted lay is one small write whose files prune by parquet footer
    * min/max on the leading sort keys — the same pruning the
    * zorder_layout path proves, effective exactly because the range
    * partitioning gives each file a tight key rectangle. Readers
    * filter runs with DIRECT column predicates (band/bucket/cell
    * isin), which parquet pushes to row-group stats.
    */
  def layFlatSorted(rows: DataFrame, path: String,
                    sortKeys: Seq[org.apache.spark.sql.Column],
                    rowCount: Long, rowsPerFile: Long): Unit = {
    val n = math.max(1L, (rowCount + rowsPerFile - 1) / rowsPerFile)
      .min(10000L).toInt
    rows.repartitionByRange(n, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .write.mode("overwrite").parquet(path)
  }
}
