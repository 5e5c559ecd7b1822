package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import ManifestCommit.{DirEntry, Manifest}

/** The size-tiered LSM layout ([[TieredIndex]]'s policy) expressed
  * over [[ManifestCommit]]'s versioned manifests. One tiered table
  * `name` maps to three manifest tables:
  *
  *  - `name`       — the BASE: normally one dir holding a partitioned
  *    file tree (probes prune it statically),
  *  - `name.l1`    — LEVEL-1 runs: one dir per minor fold, each a few
  *    FLAT files range-sorted on the probe keys (footer min/max
  *    pruning — see [[TieredIndex.layFlatSorted]]),
  *  - `name.tail`  — the flat level-0 tail: one small dir per append.
  *
  * Every maintenance step writes FRESH dirs and publishes ONE new
  * manifest, so append+compact touch disjoint paths and probes resolve
  * a consistent snapshot — no probe-during-compaction race exists.
  *
  * Tier masses ride the manifest (each [[DirEntry]] carries its row
  * count, recorded once at lay time), so the [[TieredIndex]] size
  * policy runs with ZERO Spark jobs — no LIST across a many-file base
  * per maintenance cycle on an object store.
  *
  * Operational contract: each append adds ONE tail dir and reads
  * union per-dir scans, so the compaction cadence bounds the probe's
  * scan count (the size policy folds the tail on every cycle with a
  * non-empty tail — at compact-every-K the union never exceeds
  * base + MaxL1Runs + K scans per table). An orchestrator that
  * appends forever without compacting degrades probe PLANNING cost
  * linearly — the fix is to run the compact arm on a cadence.
  */
object ManifestTiered {

  def l1Table(name: String): String = s"$name.l1"
  def tailTable(name: String): String = s"$name.tail"

  /** Base ∪ runs ∪ tail of one tiered table, pinned to the caller's
    * snapshot, as at most two relations: the base, and every flat run
    * and tail dir read as ONE relation (one plan node to analyze and
    * one scan to filter, however many appends the tail holds). The
    * optional filter prunes the (partitioned) base statically and the
    * flat dirs via parquet footer stats — callers must keep it to
    * direct column predicates for the latter to engage. `partitions`
    * limits the BASE to those partition subdirs
    * ([[ManifestCommit.readTable]]).
    */
  def read(spark: SparkSession, indexDir: String, m: Manifest, name: String,
           schema: StructType, filter: Option[Column] = None,
           partitions: Option[Seq[String]] = None): DataFrame = {
    def f(df: DataFrame) = filter.map(df.filter).getOrElse(df)
    val base = f(ManifestCommit.readTable(spark, indexDir, m, name, schema, partitions))
    val flat = (m.table(l1Table(name)) ++ m.table(tailTable(name))).map(d => s"$indexDir/$d")
    if (flat.isEmpty) base
    else base.unionByName(f(ManifestCommit.scanOf(spark, schema, flat)))
  }

  /** Rows of the tail only (what a Minor fold rewrites). */
  def readTail(spark: SparkSession, indexDir: String, m: Manifest,
               name: String, schema: StructType): DataFrame =
    ManifestCommit.readTable(spark, indexDir, m, tailTable(name), schema)

  /** Rows of the level-1 + tail mass only (what a MergeRuns fold
    * rewrites — the base is deliberately not read).
    */
  def readAboveBase(spark: SparkSession, indexDir: String, m: Manifest,
                    name: String, schema: StructType): DataFrame =
    ManifestCommit.readTable(spark, indexDir, m, l1Table(name), schema)
      .unionByName(ManifestCommit.readTable(spark, indexDir, m, tailTable(name), schema))

  /** Tier masses straight off the manifest — no Spark counts. A -1
    * (unknown — a v1 manifest) only ever over-triggers compaction
    * toward Major, which is correct, just not lazy: treat as 0 base /
    * large delta is wrong either way, so map unknown to the
    * conservative "recount" via a real Spark count.
    */
  def sizes(spark: SparkSession, indexDir: String, m: Manifest, name: String,
            schema: StructType): TieredIndex.TierSizes = {
    def mass(table: String): Long = m.rows(table) match {
      case -1L =>
        ManifestCommit.readTable(spark, indexDir, m, table, schema).count()
      case n => n
    }
    TieredIndex.TierSizes(
      base = mass(name), l1 = mass(l1Table(name)), tail = mass(tailTable(name)),
      runCount = m.entries(l1Table(name)).size)
  }

  /** Lay `rows` into a FRESH unpublished data dir of `table` and
    * return its manifest entry. Three write shapes:
    * `partitionBy` non-empty → the base's partition-dir tree (sorted
    * within partitions on `sortKeys`); empty with `sortKeys` → flat
    * run files range-sorted via [[TieredIndex.layFlatSorted]]
    * (`sizeHintRows` drives the file count — an upper bound is fine);
    * neither → a plain flat write (the tail-append shape: cheapest
    * possible lay, compaction owns the re-sort). The entry's row
    * count always comes from one metadata-only count over the freshly
    * written footers — exact, and what lets the size policy skip
    * Spark counts forever after.
    */
  def layDir(spark: SparkSession, indexDir: String, table: String,
             rows: DataFrame, partitionBy: Seq[String], sortKeys: Seq[Column],
             sizeHintRows: Long = -1L, rowsPerFile: Long = 4L * 1000 * 1000)
      : DirEntry = {
    val d = ManifestCommit.newDataDir(indexDir, table)
    val path = s"$indexDir/$d"
    if (partitionBy.nonEmpty)
      rows.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(sortKeys: _*)
        .write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)
    else if (sortKeys.nonEmpty)
      TieredIndex.layFlatSorted(rows, path, sortKeys,
        math.max(0L, sizeHintRows), rowsPerFile)
    else
      rows.write.mode("overwrite").parquet(path)
    // exact row count off the fresh footers, driver-side — the
    // Spark-job count was a fixed per-lay scheduling constant the
    // streaming drains paid twice per micro-batch; footer reads are
    // the same metadata, no job. Falls back to the distributed count
    // when the lay is wide (a Major-compacted base at corpus scale).
    val n = ParquetFooters
      .rowCount(spark.sessionState.newHadoopConf(), path)
      .getOrElse(spark.read.schema(rows.schema).parquet(path).count())
    DirEntry(d, n)
  }

  /** One tiered table's fold parameters for [[compactTables]]:
    * `refold` re-aggregates the folded mass (BM25's additive stats
    * rows — identity for plain tables); run files are flat-sorted
    * on `runSortKeys`, a Major's base partition-dir tree sorts within
    * partitions on `baseSortKeys` (with no `basePartitionBy`, the base
    * is flat files range-sorted on `baseSortKeys`, sized like a run).
    */
  final case class FoldSpec(name: String, schema: StructType,
                            basePartitionBy: Seq[String],
                            baseSortKeys: Seq[Column],
                            runSortKeys: Seq[Column],
                            runRowsPerFile: Long,
                            refold: DataFrame => DataFrame = identity)

  /** The ONE size-tiered manifest compaction driver all three indexes
    * share: the FIRST spec is the dominant table and decides the
    * action; every table folds the SAME action, and all new dirs land
    * in ONE publish — sidecars can never commit to a different tier
    * state than their main table.
    */
  def compactTables(spark: SparkSession, indexDir: String,
                    specs: Seq[FoldSpec]): Unit = {
    require(specs.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    val m = ManifestCommit.current(conf, indexDir)
    val szs = sizes(spark, indexDir, m, specs.head.name, specs.head.schema)
    val action = TieredIndex.plan(szs)
    if (action == TieredIndex.NoOp) return
    // each table's run files are sized by ITS OWN folded rows: a
    // sidecar a fraction of the dominant table's size must not be laid
    // into as many files as the dominant table
    def fold(spec: FoldSpec): ManifestCommit.DirEntry = {
      val own = sizes(spark, indexDir, m, spec.name, spec.schema)
      val (rows0, mass) = action match {
        case TieredIndex.Minor(_) =>
          (readTail(spark, indexDir, m, spec.name, spec.schema), own.tail)
        case TieredIndex.MergeRuns =>
          (readAboveBase(spark, indexDir, m, spec.name, spec.schema),
            own.l1 + own.tail)
        case _ =>
          (read(spark, indexDir, m, spec.name, spec.schema),
            own.base + own.l1 + own.tail)
      }
      val rows = spec.refold(rows0)
      action match {
        case TieredIndex.Major =>
          layDir(spark, indexDir, spec.name, rows,
            partitionBy = spec.basePartitionBy, sortKeys = spec.baseSortKeys,
            sizeHintRows = mass, rowsPerFile = spec.runRowsPerFile)
        case _ =>
          layDir(spark, indexDir, l1Table(spec.name), rows,
            partitionBy = Nil, sortKeys = spec.runSortKeys,
            sizeHintRows = mass, rowsPerFile = spec.runRowsPerFile)
      }
    }
    // per-table folds are independent (disjoint tables, fresh dirs,
    // one publish below) — overlap their jobs from driver threads
    // (§2.6): a sidecar's fold rides the dominant table's wall
    val laid = specs.zip(
      DriverPar.inParallel(spark.sparkContext)(specs.map(s => () => fold(s))))
    ManifestCommit.publishAt(conf, indexDir, m, mm =>
      laid.foldLeft(mm) { case (acc, (s, e)) =>
        foldUpdate(acc, s.name, action, e)
      }); ()
  }

  /** BENCH-HARNESS time travel — NOT a production operation
    * (production never deletes a published manifest): drop every
    * generation above `gen` and vacuum to the restored snapshot, so a
    * repeated bench invocation measures one REAL fold each time
    * instead of a NoOp re-probe. O(fold output).
    */
  def benchRewind(conf: Configuration, indexDir: String, gen: Long): Unit = {
    val mdir = new org.apache.hadoop.fs.Path(indexDir, "_manifests")
    val f = mdir.getFileSystem(conf)
    if (f.exists(mdir)) f.listStatus(mdir).foreach { st =>
      st.getPath.getName.stripPrefix("m").toLongOption.foreach { g =>
        if (g > gen) { f.delete(st.getPath, false); () }
      }
    }
    // 60s grace: a CONCURRENT invocation of the same registered query
    // (parallel test suites) may still be reading the dirs of the
    // generations just dropped — its resolved Manifest lives in memory,
    // so leaving young data dirs in place keeps that reader whole; the
    // next rewind past the grace window collects them (bounded: one
    // fold output per invocation)
    ManifestCommit.vacuum(conf, indexDir, keepGens = 1, graceMs = 60000L)
  }

  /** The manifest update for one tiered table's compaction fold:
    * Minor adds a run and empties the tail; MergeRuns replaces the
    * runs with one and empties the tail; Major replaces the base and
    * empties both.
    */
  def foldUpdate(m: Manifest, name: String, action: TieredIndex.CompactAction,
                 newDir: DirEntry): Manifest = action match {
    case TieredIndex.Minor(_) =>
      ManifestCommit.setDirs(
        ManifestCommit.addDir(m, l1Table(name), newDir.dir, newDir.rows),
        tailTable(name), Nil)
    case TieredIndex.MergeRuns =>
      ManifestCommit.setDirs(
        ManifestCommit.setDirs(m, l1Table(name), Seq(newDir)),
        tailTable(name), Nil)
    case TieredIndex.Major =>
      ManifestCommit.setDirs(
        ManifestCommit.setDirs(
          ManifestCommit.setDirs(m, name, Seq(newDir)),
          l1Table(name), Nil),
        tailTable(name), Nil)
    case TieredIndex.NoOp => m
  }
}
