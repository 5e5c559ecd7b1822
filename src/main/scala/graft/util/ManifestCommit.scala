package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The OBJECT-STORE-SAFE commit protocol for persisted indexes —
  * versioned manifests (atomic same-FS renames + OS file locks do not
  * exist on S3-class stores, and the reference's own deployment story
  * is an object store). Every persisted index runs on it.
  *
  * Invariants, in place of renames:
  *
  *  - DATA PATHS ARE NEVER RENAMED OR OVERWRITTEN. A writer lays new
  *    rows under a fresh uniquely-named dir ([[newDataDir]]) and
  *    publishes by writing ONE new manifest file naming, per table,
  *    the complete live dir set. Append = old dirs + the new one;
  *    compaction/replace = a brand-new list. Either way the publish
  *    is a single-file decision point.
  *  - Manifests are numbered `_manifests/m<gen>` with gen strictly
  *    increasing, created with an ATOMIC create-no-overwrite. How that
  *    atomicity is obtained is classified per store ([[createMode]]):
  *    HDFS-semantics schemes use plain `create(overwrite=false)`
  *    (atomic at create time); stores advertising Hadoop's
  *    conditional-create path capability (HADOOP-19256 — S3A with
  *    conditional writes, i.e. S3 `If-None-Match: *`) go through the
  *    `createFile` builder, where the condition is enforced
  *    SERVER-SIDE and a lost race surfaces at close(); a store
  *    offering neither FAILS LOUDLY (config pointer:
  *    [[AtomicCreateConfKey]]) — plain `create(path, false)` on such a
  *    store is a client-side exists-check + PUT, a race window this
  *    protocol never silently accepts. Two racing writers cannot both
  *    win a generation: the loser fails LOUDLY. This replaces the
  *    OS-file-lock lease (advisory locks don't exist on object
  *    stores).
  *  - Readers resolve the HIGHEST COMPLETE manifest and read exactly
  *    its dir set — a consistent snapshot with no torn-window reads:
  *    a concurrent publish only adds a new manifest file, and
  *    superseded dirs stay on disk until [[vacuum]], so a reader that
  *    resolved gen k keeps reading gen k's files even while gen k+1
  *    lands. This gives probe-during-compaction SNAPSHOT ISOLATION
  *    for free (a probe between two in-place dir swaps would
  *    double-count).
  *  - Torn manifest writes are INVISIBLE, not fatal: the writer
  *    streams a `end=<line-count>` terminator as the last line and
  *    readers skip any manifest whose terminator is absent or wrong —
  *    no rename-into-place needed to make the publish atomic, so the
  *    protocol holds even on stores where a crashed PUT could leave a
  *    visible partial object.
  *  - Exactly-once folds ride the manifest itself: the committed
  *    batch-id state is part of the published snapshot, so a retried
  *    batch checks [[isBatchCommitted]] against the same snapshot it
  *    would append to (no separate token files whose visibility could
  *    lag the data's). Two id forms, because a 24/7 cadence must not
  *    grow the manifest forever (an id set carrying full history
  *    re-serializes ~0.5 M ids/year at 1/min — multi-MB manifests
  *    with per-publish cost growing without bound):
  *      - SEQUENCED ids `writer~seq` ([[seqBatchId]]) — the
  *        Delta-Lake-style idempotent-writer contract: the manifest
  *        keeps ONE high-water seq per writer, so state is O(writers)
  *        forever and a replayed (old-seq) batch no-ops at ANY age.
  *        This is the form the streaming drains and any repeating
  *        orchestrator must use.
  *      - FREE-FORM ids (digests, ad-hoc tokens) — retained with the
  *        generation they committed at and PRUNED once they age past
  *        [[CommittedRetainGens]] publishes; the prune floor is
  *        recorded. Inside the window a replay no-ops; a replay
  *        delayed past the window is indistinguishable from a new
  *        batch (detecting it exactly for arbitrary opaque ids would
  *        require the unbounded history this bound exists to remove —
  *        sequenced ids are the never-forgets answer) and would fold
  *        again; size the window above any real retry horizon.
  *  - Crash recovery is a NO-OP by construction: a writer that died
  *    before its manifest landed left only unreferenced data dirs
  *    (invisible to every reader); [[vacuum]] garbage-collects them
  *    along with superseded generations — skipping anything younger
  *    than a grace window, so a LIVE writer's fully-laid but
  *    not-yet-published dirs (a legal mid-publish state) survive a
  *    racing vacuum (the Iceberg/Delta orphan-retention convention).
  *
  * Each table's dir entries carry the dir's ROW COUNT, written once at
  * lay time — so the size-tiered compaction policy reads tier masses
  * straight off the manifest instead of running per-tier Spark counts
  * (on an object store those were a LIST across a many-file base per
  * maintenance cycle).
  *
  * All IO goes through the Hadoop FileSystem API, so the same code
  * runs on file:, hdfs:, s3a:, etc. The spec exercises it with
  * rename-free assertions on the local FS.
  */
object ManifestCommit {

  /** Free-form committed batch ids older than this many publishes are
    * pruned from the manifest (their max pruned generation is kept as
    * the floor). 4096 generations at even a 1-minute publish cadence
    * is ~3 days — far above any retry horizon a re-driven job meets —
    * while bounding the committed set a manifest re-serializes.
    * Sequenced ids ([[seqBatchId]]) never prune.
    */
  val CommittedRetainGens = 4096

  /** [[publishAt]] refuses to self-heal a torn manifest younger than
    * this (default 15 min): on filesystems where in-progress writes
    * are visible (file:, hdfs:) a "torn" top manifest may be a LIVE
    * writer's stream mid-flight, and deleting it would silently lose
    * that writer's publish — the exact lost update the CAS exists to
    * prevent. Older than the grace window, the writer is dead and the
    * torn object is a crashed publish every reader already skips.
    */
  val TornHealGraceMs = 15L * 60 * 1000

  /** [[vacuum]] never deletes an unreferenced data dir younger than
    * this (default 1 h): dirs fully laid but not yet named by a
    * manifest are the legal mid-publish state of a live writer.
    */
  val VacuumGraceMs = 60L * 60 * 1000

  /** Conf key (settable as `spark.hadoop.graft.manifest.atomic.create`):
    * an operator's assertion that THIS deployment's plain
    * `create(path, overwrite=false)` is atomic — the escape hatch for
    * stores [[createMode]] doesn't know (a GCS connector with
    * precondition-backed creates, a POSIX-complete fuse mount). Left
    * unset, only HDFS-semantics schemes get the plain-create path.
    */
  val AtomicCreateConfKey = "graft.manifest.atomic.create"

  /** Schemes whose FileSystem contract makes `create(overwrite=false)`
    * itself the atomic put-if-absent (the HDFS single-namespace
    * semantics). Everything else must either advertise
    * [[ConditionalCreateCapability]] or be asserted atomic via
    * [[AtomicCreateConfKey]] — NEVER silently fall back to a
    * client-side exists-check + PUT (the S3A plain-create shape),
    * which is exactly the lost-update race the CAS exists to prevent.
    */
  private val AtomicCreateSchemes = Set("file", "hdfs", "viewfs", "webhdfs")

  /** Hadoop 3.4.2's conditional-create path capability (HADOOP-19256):
    * a store advertising it enforces the no-overwrite condition
    * SERVER-SIDE on the `createFile(path).overwrite(false)` builder
    * path (S3 `If-None-Match: *` on the final PUT / multipart
    * complete) — the lost race then surfaces as an IOException when
    * the stream CLOSES (the PUT is the close), not at create().
    */
  val ConditionalCreateCapability: String =
    org.apache.hadoop.fs.Options.CreateFileOptionKeys
      .FS_OPTION_CREATE_CONDITIONAL_OVERWRITE

  /** How [[publishAt]] gets an atomic create-no-overwrite on a store. */
  private[util] sealed trait CreateMode
  private[util] object CreateMode {
    /** `create(path, false)` is the CAS — fails at create(). */
    case object AtomicCreate extends CreateMode
    /** the `createFile` builder's server-side condition is the CAS —
      * a lost race fails the CLOSE.
      */
    case object ConditionalClose extends CreateMode
  }

  /** Classify the store's atomic-create story for `p`, or fail LOUDLY:
    * a store offering neither HDFS create atomicity nor conditional
    * create gets an error with the config pointer instead of a silent
    * check-then-PUT whose race window only ever loses data under
    * contention — i.e. in production, never in a test.
    */
  private[util] def createMode(f: FileSystem, conf: Configuration,
                               p: Path): CreateMode = {
    val scheme = f.getUri.getScheme
    if (scheme == null || AtomicCreateSchemes.contains(scheme) ||
        conf.getBoolean(AtomicCreateConfKey, false))
      CreateMode.AtomicCreate
    else if (try f.hasPathCapability(p, ConditionalCreateCapability)
             catch { case _: Exception => false })
      CreateMode.ConditionalClose
    else
      throw new IllegalStateException(
        s"cannot publish a manifest on scheme '$scheme' ($p): the store " +
          s"offers neither an atomic create(overwrite=false) (HDFS " +
          s"semantics) nor conditional create (path capability " +
          s"'$ConditionalCreateCapability', Hadoop 3.4.2+ S3A with " +
          s"conditional writes enabled). A plain create there is a " +
          s"client-side exists-check + PUT — two racing writers could " +
          s"both win a generation. Enable the store's conditional-write " +
          s"support, or — if this store's create(overwrite=false) is " +
          s"known atomic — set $AtomicCreateConfKey=true " +
          s"(spark.hadoop.$AtomicCreateConfKey under Spark).")
  }

  /** Fail-fast hook every index BUILD calls first: a build about to
    * lay data under a store the protocol cannot publish on should die
    * before the lay, not after.
    * Publish-time enforcement in [[publishAt]] still backstops paths
    * that never resolved (an orphaned dir laid before a crash is the
    * protocol's normal garbage either way).
    */
  def assertPublishable(conf: Configuration, indexDir: String): Unit = {
    val f = fs(conf, indexDir)
    createMode(f, conf, new Path(manifestsDir(indexDir), "m1")); ()
  }

  /** One live data dir of a table, with the row count recorded at lay
    * time (`rows` = -1 when unknown — manifests written by the
    * row-count-less v1 encoder).
    */
  final case class DirEntry(dir: String, rows: Long)

  /** One published index state: per-table live data dirs (relative to
    * the index dir), the windowed free-form committed batch ids (id →
    * commit generation), the per-writer sequenced-id high-water marks,
    * and the free-form prune floor.
    */
  final case class Manifest(gen: Long,
                            tables: Map[String, Seq[DirEntry]],
                            committed: Map[String, Long],
                            writers: Map[String, Long],
                            floor: Long) {
    def entries(name: String): Seq[DirEntry] = tables.getOrElse(name, Nil)
    def table(name: String): Seq[String] = entries(name).map(_.dir)
    /** Total rows across a table's dirs; -1 if any dir's count is unknown. */
    def rows(name: String): Long = {
      val es = entries(name)
      if (es.exists(_.rows < 0)) -1L else es.map(_.rows).sum
    }
    /** True iff `batchId` is recorded as committed in THIS snapshot.
      * Sequenced ids answer exactly at any age; a free-form id absent
      * from the window is reported uncommitted (indeterminate beyond
      * [[Manifest.floor]] — see the class doc's id-form contract).
      */
    def isCommitted(batchId: String): Boolean = parseSeqId(batchId) match {
      case Some((w, s)) => writers.get(w).exists(_ >= s)
      case None => committed.contains(batchId)
    }
  }

  val Empty: Manifest = Manifest(0L, Map.empty, Map.empty, Map.empty, 0L)

  /** Manifest helpers for the append/replace shapes every index uses. */
  def addDir(m: Manifest, table: String, dir: String, rows: Long): Manifest =
    m.copy(tables = m.tables.updated(table, m.entries(table) :+ DirEntry(dir, rows)))
  def setDirs(m: Manifest, table: String, dirs: Seq[DirEntry]): Manifest =
    m.copy(tables = m.tables.updated(table, dirs))

  private def manifestsDir(indexDir: String) = new Path(indexDir, "_manifests")

  private def fs(conf: Configuration, indexDir: String): FileSystem =
    new Path(indexDir).getFileSystem(conf)

  private def isPlainToken(s: String): Boolean =
    s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-')

  private def requireToken(s: String, what: String): String = {
    require(isPlainToken(s), s"$what must be a plain token, got '$s'")
    s
  }

  /** A sequenced batch id `writer~seq` — the bounded exactly-once form
    * (one high-water mark per writer in the manifest, replays no-op at
    * any age). `seq` must be non-decreasing per writer across real
    * batches; a replay re-presents an old seq.
    */
  def seqBatchId(writer: String, seq: Long): String = {
    requireToken(writer, "writer")
    require(seq >= 0, s"seq must be >= 0, got $seq")
    s"$writer~$seq"
  }

  private[util] def parseSeqId(batchId: String): Option[(String, Long)] =
    batchId.split("~", 2) match {
      case Array(w, s) if isPlainToken(w) && s.nonEmpty && s.forall(_.isDigit) =>
        s.toLongOption.map(w -> _)
      case _ => None
    }

  private def requireBatchId(s: String): String = {
    require(isPlainToken(s) || parseSeqId(s).isDefined,
      s"batchId must be a plain token or writer~seq, got '$s'")
    s
  }

  /** Serialized line format (no JSON dependency, trivially greppable):
    * `gen=N`, `floor=G`, `committed=id@gen,...`, `writers=w@seq,...`,
    * one `table=name:dir@rows,...` per table, then the completeness
    * terminator `end=<total line count>`.
    */
  private def encode(m: Manifest): String = {
    val body = Seq(s"gen=${m.gen}",
      s"floor=${m.floor}",
      s"committed=${m.committed.toSeq.sorted.map { case (id, g) => s"$id@$g" }.mkString(",")}",
      s"writers=${m.writers.toSeq.sorted.map { case (w, s) => s"$w@$s" }.mkString(",")}") ++
      m.tables.toSeq.sortBy(_._1).map { case (t, dirs) =>
        s"table=$t:${dirs.map(e => s"${e.dir}@${e.rows}").mkString(",")}"
      }
    (body :+ s"end=${body.size + 1}").mkString("\n")
  }

  /** None for a torn/incomplete file (terminator absent or wrong) —
    * the reader-side half of publish atomicity. Reads v1 manifests
    * (bare committed ids → committed at their own generation, the
    * conservative retention; bare dirs → rows unknown).
    */
  private[util] def decode(text: String): Option[Manifest] = {
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    val kv = lines.map(_.split("=", 2)).collect {
      case Array(k, v) => (k, v)
    }
    val end = kv.collectFirst { case ("end", v) => v }
    if (!end.exists(v => v.toLongOption.contains(lines.size.toLong))) return None
    def splitAtLast(s: String, sep: Char): (String, Option[Long]) =
      s.lastIndexOf(sep) match {
        case -1 => (s, None)
        case i => (s.take(i), s.drop(i + 1).toLongOption)
      }
    for {
      gen <- kv.collectFirst { case ("gen", v) => v }.flatMap(_.toLongOption)
    } yield Manifest(
      gen,
      kv.collect { case ("table", v) =>
        val Array(name, dirs) = v.split(":", 2)
        name -> dirs.split(",").toSeq.filter(_.nonEmpty).map { d =>
          val (dir, rows) = splitAtLast(d, '@')
          if (rows.isDefined) DirEntry(dir, rows.get) else DirEntry(d, -1L)
        }
      }.toMap,
      kv.collectFirst { case ("committed", v) =>
        v.split(",").toSeq.filter(_.nonEmpty).map { e =>
          val (id, g) = splitAtLast(e, '@')
          if (g.isDefined) (id, g.get) else (e, gen)
        }.toMap
      }.getOrElse(Map.empty),
      kv.collectFirst { case ("writers", v) =>
        v.split(",").toSeq.filter(_.nonEmpty).flatMap { e =>
          val (w, s) = splitAtLast(e, '@')
          s.map(w -> _)
        }.toMap
      }.getOrElse(Map.empty),
      kv.collectFirst { case ("floor", v) => v }.flatMap(_.toLongOption)
        .getOrElse(0L))
  }

  private def readManifestFile(f: FileSystem, p: Path): Option[Manifest] = {
    // a file that vanished between the LIST and this read (a racing
    // vacuum or torn-heal) reads as skippable, same as a torn write
    val in =
      try f.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    decode(text)
  }

  /** Every manifest generation present on disk, newest first — names
    * only (one LIST, no reads). Shared by the reader resolve, the
    * publish CAS guard, and vacuum — all three must agree on what
    * exists; each decodes only the files it actually needs (readers
    * stop at the first complete one), keeping the common resolve at
    * one LIST + one GET on an object store.
    */
  private def listGens(f: FileSystem, indexDir: String): Seq[(Long, Path)] = {
    val dir = manifestsDir(indexDir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .map(_.getPath)
      .flatMap(p => p.getName.stripPrefix("m").toLongOption
        .filter(_ => p.getName.startsWith("m")).map(g => (g, p)))
      .sortBy(-_._1)
  }

  /** Resolve the newest COMPLETE manifest — the reader's snapshot.
    * Torn files (a crashed publish) and non-manifest names are
    * skipped; an index with no manifests reads as [[Empty]].
    */
  def current(conf: Configuration, indexDir: String): Manifest = {
    val f = fs(conf, indexDir)
    listGens(f, indexDir).iterator
      .flatMap { case (_, p) => readManifestFile(f, p) }
      .nextOption().getOrElse(Empty)
  }

  /** Resolve generation `gen` EXACTLY — the AS-OF (time-travel) read.
    * Versioned manifests give historical snapshots for free: any
    * retained complete generation is a consistent index state
    * (its dirs stay on disk until [[vacuum]] drops the generation), so
    * a reader can probe the index as it stood before any fold — audit
    * reruns, A/B-ing a crawl's contribution, reproducing a past
    * pipeline output. Fails loudly (with the retained range) when the
    * generation was vacuumed, is torn, or never existed: a silent
    * fallback to a DIFFERENT snapshot would un-reproduce the very run
    * the caller is pinning. Size vacuum's `keepGens` to the longest
    * AS-OF horizon readers need.
    */
  def atGeneration(conf: Configuration, indexDir: String,
                   gen: Long): Manifest = {
    val f = fs(conf, indexDir)
    val all = listGens(f, indexDir)
    all.find(_._1 == gen)
      .flatMap { case (_, p) => readManifestFile(f, p) }
      .getOrElse {
        // advertise only what an AS-OF read can actually resolve:
        // decode each retained file and report torn ones separately,
        // so the range never names a generation this same call would
        // refuse (decoding here is fine — this is the error path)
        val complete = all.filter { case (_, p) =>
          readManifestFile(f, p).isDefined }.map(_._1)
        val torn = all.map(_._1).filterNot(complete.contains).sorted
        throw new IllegalArgumentException(
          s"generation $gen of $indexDir is not resolvable: " +
            (if (complete.isEmpty) "no complete manifests exist"
             else s"resolvable retained generations are " +
               s"${complete.min}..${complete.max} (older ones vacuumed)") +
            (if (torn.isEmpty) ""
             else s"; torn/unreadable: ${torn.mkString(",")}") +
            s". Size vacuum keepGens to the AS-OF horizon readers need.")
      }
  }

  /** True iff an index exists at `indexDir` — its first publish
    * creates the `_manifests` dir.
    */
  def exists(conf: Configuration, indexDir: String): Boolean =
    fs(conf, indexDir).exists(manifestsDir(indexDir))

  /** Every probe/maintenance entry point's gate: a dir with no
    * `_manifests` was never built, and resolving it would silently
    * read an EMPTY index — fail loudly instead, on any scheme.
    */
  def requireIndex(conf: Configuration, indexDir: String, what: String): Unit =
    if (!exists(conf, indexDir))
      throw new IllegalStateException(
        s"$what: no index at $indexDir (no _manifests dir) — build it " +
          s"first; a never-built dir must not read as an empty index")

  def isBatchCommitted(conf: Configuration, indexDir: String,
                       batchId: String): Boolean =
    current(conf, indexDir).isCommitted(requireBatchId(batchId))

  /** A fresh never-published data dir for `table` — unique name, so
    * concurrent/crashed writers can never collide on a data path and
    * an unpublished dir is garbage, not corruption.
    */
  def newDataDir(indexDir: String, table: String): String = {
    requireToken(table, "table")
    s"data/$table/d-${java.util.UUID.randomUUID().toString.take(12)}"
  }

  /** The lost-CAS error — its own type so callers whose updates
    * COMMUTE (pure appends) can retry on exactly this and nothing
    * else ([[publishCommuting]]).
    */
  final class ManifestContentionException(msg: String)
    extends IllegalStateException(msg)

  private def contention(indexDir: String, gen: Long, why: String) =
    new ManifestContentionException(
      s"concurrent manifest publish on index $indexDir: $why generation " +
        s"$gen. Index maintenance is single-writer; a second " +
        s"writer lost the create-no-overwrite race (the object-store " +
        s"analogue of the writer lease). Re-resolve the current manifest " +
        s"and retry, or serialize maintenance (one orchestrator per index).")

  /** Publish a COMMUTING update — one that only ADDS fresh dirs
    * ([[addDir]] appends) and is valid against ANY newer snapshot —
    * with bounded contention retries: a lost CAS leaves the laid data
    * dirs fully valid, so the writer re-resolves the new current
    * manifest and re-applies. Appends therefore no longer waste their
    * lay work when two writers race one index. NEVER use for
    * compactions or rebuilds: their updates REPLACE table lists
    * derived from the snapshot they read, so re-applying over a newer
    * base would silently drop a racer's concurrent append — those stay
    * fail-loudly single-writer.
    *
    * "Valid against any newer snapshot" is a claim about the LAID
    * ROWS, and it only holds while the artifacts the lay derived from
    * (k-means centroids, PQ codebooks, hash-family params) are the
    * ones the newer snapshot still carries — a racing REBUILD
    * replaces them, and re-applying would land rows
    * cell-assigned/banded under the superseded artifacts into the new
    * index: silently wrong probe results. Callers pass `invariant`,
    * which is run against each re-resolved snapshot BEFORE the
    * re-apply and must throw (anything but
    * [[ManifestContentionException]] — that would be retried as
    * contention) when the lay's dependencies no longer hold; the
    * default accepts any snapshot, which is only correct for updates
    * with no trained/parameterized dependencies.
    */
  def publishCommuting(conf: Configuration, indexDir: String, base: Manifest,
                       update: Manifest => Manifest,
                       batchId: Option[String] = None,
                       maxRetries: Int = 5,
                       invariant: Manifest => Unit = _ => ()): Manifest = {
    var cur = base
    var first = true
    retryOnContention(maxRetries) {
      // re-resolve at the START of each retry — i.e. AFTER the
      // backoff — so the CAS never runs against a snapshot that went
      // stale during the sleep (resolving before the backoff burned
      // bounded retries on foreseeably-stale bases under a burst)
      if (!first) { cur = current(conf, indexDir); invariant(cur) }
      first = false
      publishAt(conf, indexDir, cur, update, batchId)
    }
  }

  /** Process-wide count of contention retries taken by
    * [[retryOnContention]] — observability for multi-writer drills and
    * deployments (how often did racing writers actually collide?).
    * Monotone; read deltas around the window of interest.
    */
  val ContentionRetries = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bounded retry-with-backoff on [[ManifestContentionException]] —
    * the retry policy of [[publishCommuting]]. Retries nothing else:
    * the unsafe-store refusal and every other failure propagate on the
    * first throw.
    */
  private def retryOnContention[T](maxRetries: Int)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: ManifestContentionException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
          ContentionRetries.incrementAndGet()
          Thread.sleep(20L * attempt) // let the racing burst settle
      }
    }
    sys.error("unreachable")
  }

  /** Publish the next generation on top of the current snapshot —
    * resolve-then-[[publishAt]] in one call.
    */
  def publish(conf: Configuration, indexDir: String,
              update: Manifest => Manifest,
              batchId: Option[String] = None,
              retainGens: Int = CommittedRetainGens,
              tornHealGraceMs: Long = TornHealGraceMs): Manifest =
    publishAt(conf, indexDir, current(conf, indexDir), update, batchId,
      retainGens, tornHealGraceMs)

  /** Publish generation `base.gen + 1`: apply `update` to the caller's
    * resolved snapshot (add dirs for an append, replace a table's list
    * for a compaction), fold in the optional batch id (sequenced ids
    * advance their writer's watermark; free-form ids enter the
    * windowed set, and entries older than `retainGens` publishes are
    * pruned with the floor advanced), and write `_manifests/m<gen+1>`
    * with create-NO-overwrite — the explicit compare-and-swap: if ANY
    * other writer published after `base` was resolved (or a crashed
    * publish left even a torn object on the target generation), the
    * create fails and this throws [[IllegalStateException]] —
    * fail-loudly single-writer arbitration, no advisory locks needed.
    * A batch id already committed in `base` makes the whole publish a
    * NO-OP (returns `base` unchanged) — the exactly-once retry
    * contract.
    */
  def publishAt(conf: Configuration, indexDir: String, base: Manifest,
                update: Manifest => Manifest,
                batchId: Option[String] = None,
                retainGens: Int = CommittedRetainGens,
                tornHealGraceMs: Long = TornHealGraceMs): Manifest = {
    batchId.foreach(requireBatchId)
    val cur = base
    if (batchId.exists(cur.isCommitted)) return cur
    val next0 = update(cur)
    val gen = cur.gen + 1
    var committed = next0.committed
    var writers = next0.writers
    batchId.foreach { id =>
      parseSeqId(id) match {
        case Some((w, s)) =>
          writers = writers.updated(w, math.max(writers.getOrElse(w, -1L), s))
        case None => committed = committed.updated(id, gen)
      }
    }
    // windowed retention for free-form ids: entries that aged past the
    // window drop out and the floor records the newest pruned
    // generation — the manifest's committed state stays O(window +
    // writers) at any cadence instead of carrying full history
    val cut = gen - retainGens
    val (keep, drop) = committed.partition { case (_, g) => g > cut }
    val floor =
      if (drop.isEmpty) next0.floor
      else math.max(next0.floor, drop.values.max)
    val next = next0.copy(gen = gen, committed = keep, writers = writers,
      floor = floor)
    val f = fs(conf, indexDir)
    f.mkdirs(manifestsDir(indexDir))
    // stale-snapshot guard: the target generation must be STRICTLY
    // above every generation on disk (complete or torn). Without it,
    // a writer holding a snapshot from before a vacuum could re-claim
    // a vacuumed generation NUMBER: its create would succeed, but
    // readers resolve the highest gen, so the "published" manifest
    // would never become current — a silent lost update through the
    // very mechanism that is supposed to fail loudly.
    val existing = listGens(f, indexDir)
    if (existing.headOption.exists(_._1 >= next.gen)) {
      // one self-heal: if the occupant of OUR target gen is a TORN
      // object (unreadable to every reader by construction), nothing
      // newer exists, AND it is older than the grace window — so it is
      // a crashed publish, not a live writer's stream caught mid-PUT
      // on a filesystem where partial writes are visible (file:,
      // hdfs:) — clear it and take the slot. Without the heal a torn
      // top manifest would wedge every future publish forever (the
      // retry re-resolves the same base and collides with the same
      // dead object); without the grace a second writer racing a LIVE
      // writer could read the still-streaming manifest as torn,
      // delete it, and silently lose the first writer's publish.
      val (topGen, topPath) = existing.head
      // a racing healer may delete (and a racing publisher re-create)
      // the torn object between our read and the stat: a vanished file
      // reads as NOT-heal-bait — fall through to the create, whose
      // no-overwrite CAS arbitrates whatever the race left behind
      def olderThanGrace: Boolean =
        try System.currentTimeMillis() -
          f.getFileStatus(topPath).getModificationTime >= tornHealGraceMs
        catch { case _: java.io.FileNotFoundException => false }
      val tornAndStale = topGen == next.gen &&
        readManifestFile(f, topPath).isEmpty && olderThanGrace
      if (tornAndStale) { f.delete(topPath, false); () }
      else if (topGen == next.gen && readManifestFile(f, topPath).isEmpty)
        throw contention(indexDir, next.gen,
          "a torn-looking manifest younger than the heal grace window " +
            "(possibly a live writer's in-flight stream) occupies")
      else throw contention(indexDir, next.gen, "a newer publish occupies")
    }
    val p = new Path(manifestsDir(indexDir), s"m${next.gen}")
    val mode = createMode(f, conf, p) // throws LOUDLY on unsafe stores
    val out =
      try mode match {
        case CreateMode.AtomicCreate
            if f.getUri.getScheme == null || f.getUri.getScheme == "file" =>
          // the LOCAL scheme needs O_EXCL: RawLocalFileSystem's
          // create(overwrite=false) is a client-side exists check +
          // open (check-then-act), so two same-box writers racing one
          // generation could BOTH succeed, the later truncating the
          // winner — a silent lost update (the N-writer race spec
          // caught it live). NIO CREATE_NEW is the POSIX atomic create.
          val nio = java.nio.file.Paths.get(p.toUri.getPath)
          new org.apache.hadoop.fs.FSDataOutputStream(
            java.nio.file.Files.newOutputStream(nio,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE), null)
        case CreateMode.AtomicCreate => f.create(p, /*overwrite=*/ false)
        case CreateMode.ConditionalClose =>
          // the builder form engages the store's conditional create
          // (HADOOP-19256): overwrite(false) is enforced server-side
          // and a lost race surfaces at close() — handled below.
          // recursive(): the parent dir already exists (mkdirs above);
          // without it the DEFAULT builder routes to createNonRecursive,
          // which many FileSystems (and object stores) don't implement
          f.createFile(p).overwrite(false).recursive().build()
      }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw contention(indexDir, next.gen, "a racing publish won")
        case _: java.nio.file.FileAlreadyExistsException =>
          throw contention(indexDir, next.gen, "a racing publish won")
        case _: java.io.IOException if f.exists(p) =>
          throw contention(indexDir, next.gen, "a racing publish won")
      }
    val payload = encode(next).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    try { out.write(payload); out.close() }
    catch {
      case e: java.io.IOException =>
        try out.close() catch { case _: java.io.IOException => () }
        if (mode != CreateMode.ConditionalClose) throw e
        // on a conditional-PUT store the object only materializes at
        // close, so a close-time failure with a COMPLETE manifest now
        // visible at p is the racer's winning publish (our PUT hit the
        // precondition); our own payload visible means our PUT in fact
        // landed and the failure was post-commit noise. Anything else
        // (absent / torn) is a genuine IO failure of OUR write — the
        // torn object is the crash state every reader already skips.
        val visible = if (f.exists(p)) readManifestFile(f, p) else None
        visible match {
          case Some(v) if encode(v) != new String(payload,
              java.nio.charset.StandardCharsets.UTF_8) =>
            throw contention(indexDir, next.gen,
              "a racing publish won (conditional PUT precondition failed on)")
          case Some(_) => () // our payload is what landed — the publish committed
          case None => throw e
        }
    }
    next
  }

  /** Read one manifested table as a DataFrame — the union of its live
    * dirs' parquet, schema-read so an empty table (or empty index)
    * loads as empty. The frame is pinned to the SNAPSHOT the caller
    * resolved: a concurrent publish or compaction does not disturb it.
    * Dirs are read INDIVIDUALLY and unioned (filters still push into
    * each scan): partition discovery then runs per root, where a
    * single multi-root read of partitioned dirs would conflict across
    * roots.
    *
    * `partitions`: for partitioned dirs, read only these partition
    * subdirs (e.g. `bucket=7`) of each dir, skipping the ones a dir
    * lacks; the `basePath` option keeps the partition column. A probe
    * then lists only the dirs it touches — a whole-dir read of a
    * 64-bucket tree crosses Spark's parallel-discovery threshold and
    * pays a listing job per scan.
    */
  def readTable(spark: SparkSession, indexDir: String, m: Manifest,
                table: String, schema: StructType,
                partitions: Option[Seq[String]] = None): DataFrame = {
    val dirs = m.table(table).map(d => s"$indexDir/$d")
    val scans = partitions match {
      case None => dirs.map(d => scanOf(spark, schema, Seq(d)))
      case Some(ps) =>
        val f = fs(spark.sessionState.newHadoopConf(), indexDir)
        dirs.flatMap { root =>
          val present = ps.distinct.map(p => s"$root/$p")
            .filter(p => f.exists(new Path(p)))
          if (present.isEmpty) None
          else Some(scanOf(spark, schema, present, basePath = Some(root)))
        }
    }
    // an empty table is a LOCAL empty relation, which the optimizer
    // prunes: each union branch over an empty tier would otherwise
    // still plan (and run) its own broadcast of a probe's join keys
    if (scans.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else scans.reduce(_.unionByName(_))
  }

  /** One parquet scan over published data dirs, resolved once per
    * session and then reused: a published dir never changes, so its
    * listing cannot go stale, and resolving a partitioned dir (listing
    * its subdirs, inferring their values) was most of a probe's
    * planning time.
    */
  private[util] def scanOf(spark: SparkSession, schema: StructType, paths: Seq[String],
                           basePath: Option[String] = None): DataFrame = {
    val key = (spark, schema, paths, basePath)
    Option(resolvedScans.get(key)).getOrElse {
      val reader = spark.read.schema(schema)
      val scan = basePath.fold(reader)(reader.option("basePath", _)).parquet(paths: _*)
      resolvedScans.put(key, scan)
      scan
    }
  }

  private type ScanKey = (SparkSession, StructType, Seq[String], Option[String])

  /** [[scanOf]]'s resolved scans, the least recently used dropped first. */
  private val resolvedScans = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[ScanKey, DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[ScanKey, DataFrame]): Boolean =
        size() > 512
    })

  /** Garbage-collect: delete data dirs referenced by NO manifest in
    * the newest `keepGens` generations (crashed writers' orphans and
    * compaction-superseded dirs) and manifests older than that window.
    * `keepGens` ≥ 1 keeps the current snapshot; a deployment sizes the
    * window to its longest-running reader, which keeps resolving its
    * (retained) snapshot mid-vacuum — the snapshot-isolation story.
    * Unreferenced dirs younger than `graceMs` are SKIPPED: a dir fully
    * laid but not yet named by a manifest is the legal mid-publish
    * state of a live writer, and deleting it would let that publish
    * succeed while referencing deleted paths (total read outage) —
    * the Delta/Iceberg orphan-retention convention.
    */
  def vacuum(conf: Configuration, indexDir: String, keepGens: Int = 2,
             graceMs: Long = VacuumGraceMs): Unit = {
    require(keepGens >= 1, "vacuum must keep at least the current generation")
    val f = fs(conf, indexDir)
    // newest first, decoded (vacuum genuinely needs the contents)
    val all = listGens(f, indexDir)
      .map { case (g, p) => (g, p, readManifestFile(f, p)) }
    // kept = the newest keepGens COMPLETE manifests. Torn files do NOT
    // count toward the window: a torn newest manifest references
    // nothing, and counting it once deleted every dir the real current
    // snapshot referenced — total index loss from the crash state the
    // protocol promises to tolerate.
    val kept = all.filter(_._3.isDefined).take(keepGens)
    if (kept.isEmpty) return // nothing complete: nothing is safely known garbage
    val live: Set[String] =
      kept.flatMap(_._3).flatMap(_.tables.values.flatten.map(_.dir)).toSet
    val youngFloor = System.currentTimeMillis() - graceMs
    // a candidate dir is "young" (possibly a live writer's mid-publish
    // lay) if the dir itself or ANY file under it was modified inside
    // the grace window; the extra LIST runs only for unreferenced dirs
    def isYoung(d: org.apache.hadoop.fs.FileStatus): Boolean =
      d.getModificationTime >= youngFloor ||
        f.listStatus(d.getPath).exists(_.getModificationTime >= youngFloor)
    // data dirs live under data/<table>/<dir>
    val dataRoot = new Path(indexDir, "data")
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).foreach { t =>
        f.listStatus(t.getPath).foreach { d =>
          val rel = s"data/${t.getPath.getName}/${d.getPath.getName}"
          if (!live.contains(rel) && !isYoung(d)) { f.delete(d.getPath, true); () }
        }
      }
    }
    // drop only manifests OLDER than the oldest kept complete gen —
    // never a newer torn object (publishAt's CAS self-heal owns that;
    // deleting it here could race the in-flight write that file IS on
    // a filesystem where partial writes are visible)
    val dropFloor = kept.last._1
    all.filter(_._1 < dropFloor).foreach { case (_, p, _) =>
      f.delete(p, false); ()
    }
  }
}
