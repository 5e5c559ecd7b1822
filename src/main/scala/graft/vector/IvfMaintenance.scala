package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.util.TieredIndex

/** Maintenance protocol for the persisted IVF-family indexes — the flat
  * IVF layout ([[VectorOps.saveIvfIndex]]: `vectors` + `centroids`)
  * and its IVF-PQ superset ([[PqOps.savePqIndex]]: + `codes` +
  * `codebooks`). One module because the two layouts share every
  * maintained table: `codes` is simply absent from the flat flavor,
  * and both the fold driver and [[TieredIndex]]'s policy act only on
  * the artifacts that exist.
  *
  * Everything runs on the versioned-manifest commit protocol
  * (graft.util.ManifestCommit / ManifestTiered):
  *
  *  - adds lay FLAT tail dirs (cell as a data column) for vectors (+
  *    codes) and publish ONE manifest carrying the batch id — a
  *    retried micro-batch or re-run CLI `ann_index_update` is a no-op,
  *    and vectors/codes can never half-append (one publish covers
  *    both).
  *  - [[compactManifest]] folds tiers by [[TieredIndex]]'s size
  *    policy: tail → new flat sorted level-1 run (O(tail)); runs
  *    re-merge past the run cap (O(L1), base untouched); the base
  *    rewrites only at the size-ratio trip, so per-cycle IO follows
  *    the tail.
  *
  * Probes resolve ONE snapshot covering every table (no
  * new-vectors/old-codes tears, no scheduling against maintenance)
  * and read base ∪ runs ∪ tail with the probed-cell IN-filter pushed
  * through the union — base and run scans statically pruned to probed
  * `cell=` dirs, only the (compaction-bounded) flat tail
  * row-filtered. Centroids and codebooks are train-once artifacts —
  * never touched by maintenance (the FAISS add-without-retrain
  * contract).
  */
private[vector] object IvfMaintenance {

  val VectorsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("cell", LongType)))
  val CodesSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType)),
    StructField("cell", LongType)))
  val CentroidsSchema: StructType = StructType(Seq(
    StructField("cell", LongType),
    StructField("centroid", ArrayType(DoubleType))))
  val CodebooksSchema: StructType = StructType(Seq(
    StructField("m", IntegerType),
    StructField("code", IntegerType),
    StructField("centroid", ArrayType(DoubleType))))

  // ---- versioned-manifest (object-store) protocol arms ----
  //
  // Tables: `vectors` (+ `codes` for the PQ flavor) tiered — base
  // partitioned by cell (statically pruned probes), flat
  // (cell, vec_id)-sorted L1 runs (footer-stat pruned: the probe's
  // cell IN-filter is a direct column predicate), flat tails;
  // `centroids`/`codebooks` are train-once single-dir tables replaced
  // only by a rebuild. Probes resolve ONE snapshot covering every
  // table, so a probe can never see new vectors with old codes — a
  // single manifest file gives that cross-table atomicity outright.

  import graft.util.{ManifestCommit, ManifestTiered}

  /** Rebuild-publish: lay every table fresh and publish a manifest
    * replacing the whole index state (committed-batch state reset — a
    * new logical index must not inherit tokens).
    */
  def saveManifest(spark: SparkSession, indexDir: String, vectors: DataFrame,
                   centroids: DataFrame, codes: Option[DataFrame],
                   codebooks: Option[DataFrame]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val vd = ManifestTiered.layDir(spark, indexDir, "vectors", vectors,
      partitionBy = Seq("cell"), sortKeys = Seq(col("vec_id")))
    val ctd = ManifestTiered.layDir(spark, indexDir, "centroids", centroids,
      partitionBy = Nil, sortKeys = Nil)
    val cd = codes.map(c => ManifestTiered.layDir(spark, indexDir, "codes", c,
      partitionBy = Seq("cell"), sortKeys = Seq(col("vec_id"))))
    val cbd = codebooks.map(cb => ManifestTiered.layDir(spark, indexDir,
      "codebooks", cb, partitionBy = Nil, sortKeys = Nil))
    ManifestCommit.publish(conf, indexDir, m => m.copy(
      tables = Map("vectors" -> Seq(vd), "centroids" -> Seq(ctd)) ++
        cd.map("codes" -> Seq(_)) ++ cbd.map("codebooks" -> Seq(_)),
      committed = Map.empty, writers = Map.empty, floor = 0L)); ()
  }

  /** FAISS add on the manifest protocol: flat unsorted tail dirs for
    * vectors (+ codes), ONE publish, exactly-once under the batch id.
    */
  /** `commuting = false` is for probe-paired callers (the streaming
    * drain): fail LOUDLY on contention so the re-driven batch
    * re-probes the post-racer snapshot — see the MinHash
    * appendAtManifest contract. Such callers must ALSO pass the
    * snapshot their probe read via `at`: without it the append
    * re-resolves current() internally, and a racer landing between
    * the probe's resolve and this one would commit silently — the
    * exact gap the fail-loud contract exists to close.
    */
  def appendManifest(spark: SparkSession, indexDir: String, vectors: DataFrame,
                     codes: Option[DataFrame],
                     batchId: Option[String],
                     commuting: Boolean = true,
                     at: Option[ManifestCommit.Manifest] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val m = at.getOrElse(ManifestCommit.current(conf, indexDir))
    if (batchId.exists(m.isCommitted)) return
    // the two tail lays are independent single-publish writes —
    // overlap their jobs from driver threads (§2.6, the MinHash
    // appendAtManifest pattern)
    val lays = graft.util.DriverPar.inParallel(spark.sparkContext)(
      Seq(() => ManifestTiered.layDir(spark, indexDir,
        ManifestTiered.tailTable("vectors"),
        vectors.select(col("vec_id"), col("embedding"), col("cell")),
        partitionBy = Nil, sortKeys = Nil)) ++
      codes.map(c => () => ManifestTiered.layDir(spark, indexDir,
        ManifestTiered.tailTable("codes"),
        c.select(col("vec_id"), col("codes"), col("cell")),
        partitionBy = Nil, sortKeys = Nil)))
    val vd = lays.head
    val cd = codes.map(_ => lays(1))
    // COMMUTING update (pure tail addDirs): lost CAS → retry against
    // the fresh snapshot, the laid dirs stay valid (probe-paired
    // callers opt out and fail loudly instead)
    val update = (mm: ManifestCommit.Manifest) => {
      val withV = ManifestCommit.addDir(mm,
        ManifestTiered.tailTable("vectors"), vd.dir, vd.rows)
      cd.map(d => ManifestCommit.addDir(withV,
        ManifestTiered.tailTable("codes"), d.dir, d.rows)).getOrElse(withV)
    }
    if (commuting)
      ManifestCommit.publishCommuting(conf, indexDir, m, update, batchId,
        // the lay cell-assigned (and PQ-encoded) this batch under the
        // base snapshot's train-once artifacts; a racing REBUILD
        // replaces them, and re-applying would land rows coded under
        // superseded centroids/codebooks — appends commute across
        // other appends and compactions (which never touch these
        // tables), never across a rebuild
        invariant = fresh => {
          val changed = Seq("centroids", "codebooks")
            .filter(t => fresh.table(t) != m.table(t))
          if (changed.nonEmpty) throw new IllegalStateException(
            s"a concurrent rebuild of $indexDir replaced " +
              s"${changed.mkString(" and ")} while this append was " +
              s"retrying a lost publish race: the batch's cell " +
              s"assignments/codes derive from the superseded artifacts " +
              s"and must not land in the rebuilt index. Re-run the " +
              s"append against the new index (re-assigning the batch).")
        })
    else ManifestCommit.publishAt(conf, indexDir, m, update, batchId)
    ()
  }

  /** One snapshot's tiered reads — every consumer of a manifest index
    * resolves [[ManifestCommit.current]] ONCE and reads all tables
    * through it.
    */
  def readVectorsManifest(spark: SparkSession, indexDir: String,
                          m: ManifestCommit.Manifest): DataFrame =
    ManifestTiered.read(spark, indexDir, m, "vectors", VectorsSchema)

  def readCodesManifest(spark: SparkSession, indexDir: String,
                        m: ManifestCommit.Manifest): DataFrame =
    ManifestTiered.read(spark, indexDir, m, "codes", CodesSchema)

  /** Size-tiered compaction on the manifest protocol: `vectors` (the
    * dominant table) decides; `codes` — row-for-row the same ids when
    * present — folds alongside in the SAME publish, so the two stores
    * can never commit to different tier states.
    */
  def compactManifest(spark: SparkSession, indexDir: String): Unit = {
    val m = ManifestCommit.current(
      spark.sessionState.newHadoopConf(), indexDir)
    val pq = m.entries("codes").nonEmpty ||
      m.entries(ManifestTiered.tailTable("codes")).nonEmpty
    def spec(name: String, schema: org.apache.spark.sql.types.StructType,
             rowsPerFile: Long) =
      ManifestTiered.FoldSpec(name, schema,
        basePartitionBy = Seq("cell"), baseSortKeys = Seq(col("vec_id")),
        runSortKeys = Seq(col("cell"), col("vec_id")),
        runRowsPerFile = rowsPerFile)
    ManifestTiered.compactTables(spark, indexDir,
      spec("vectors", VectorsSchema, 250L * 1000) +:
        (if (pq) Seq(spec("codes", CodesSchema, 4L * 1000 * 1000)) else Nil))
  }

}
