package graft.streaming

import org.apache.hadoop.conf.Configuration

import graft.util.ManifestCommit

/** Batch identity for streaming index-maintenance drains.
  *
  * A drain folding micro-batches into a persisted index needs an
  * exactly-once batch id per fold. On the manifest protocol that is a
  * SEQUENCED id `writer~seq` (one high-water mark per writer, replays
  * no-op at any age); the `writer` token must be
  *
  *  - STABLE across restarts of the same query (a restart replays
  *    from the checkpoint — same batch numbers, and they must read as
  *    replays), and
  *  - DISTINCT across different queries pointed at the same index
  *    (two drains sharing one watermark silently no-op each other's
  *    batches: writer A commits seq 5, writer B's real seq 3 reads as
  *    a replay — the exact multi-writer confusion sequenced ids exist
  *    to prevent).
  *
  * The one name with both properties is the query's CHECKPOINT
  * LOCATION: the checkpoint IS the query's identity — Spark itself
  * resumes batch numbering from it. [[writerFor]] derives the token
  * from it; a fixed literal (the r14 shape, `"drain"`) is exactly
  * wrong.
  */
object DrainIds {

  /** `drain-<fnv1a64(normalized checkpoint path)>` — a plain token
    * ([[ManifestCommit.seqBatchId]]-legal), stable per checkpoint,
    * distinct across checkpoints. Prefer the conf overload: this form
    * hashes the SPELLING as given (minus a trailing slash), so
    * `file:/cp` and `/cp` read as different writers.
    */
  def writerFor(checkpointDir: String): String = {
    val norm = checkpointDir.stripSuffix("/")
    var h = 0xcbf29ce484222325L
    norm.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    f"drain-$h%016x"
  }

  /** The canonical writer token: the checkpoint path fully QUALIFIED
    * against its own FileSystem (scheme + authority + absolute path)
    * before hashing, so `file:/cp`, `/cp`, `cp/` (relative to the FS
    * working dir) and any other spelling of one location all hash to
    * ONE writer — a respelled restart replays under the same
    * watermark instead of double-folding as a fresh writer. The token
    * DOES change if the checkpoint is physically MOVED (or reached
    * through a different symlink/mount spelling the FS cannot see
    * through): a moved checkpoint is a new query identity, and its
    * first batches fold as new work.
    */
  def writerFor(conf: Configuration, checkpointDir: String): String =
    writerFor(canonicalCheckpoint(conf, checkpointDir))

  private[streaming] def canonicalCheckpoint(conf: Configuration,
                                             checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    val u = p.getFileSystem(conf).makeQualified(p).toUri
    // rebuild from components: makeQualified leaves `file:/x` vs
    // `file:///x` distinguishable through toString (null vs empty
    // authority), and those must be ONE writer
    val auth = Option(u.getAuthority).getOrElse("")
    s"${u.getScheme}://$auth${u.getPath}".stripSuffix("/")
  }

  /** The batch id to fold `batchId` under, or None when the batch is
    * already committed and the whole probe+append must be skipped
    * (its hit partition, keyed on the batch number, already landed on
    * the first attempt). A dir with no index fails loudly here, before
    * any per-batch work is spent.
    */
  def pending(conf: Configuration, indexDir: String, checkpointDir: String,
              batchId: Long): Option[String] = {
    ManifestCommit.requireIndex(conf, indexDir, "streaming drain")
    val bid = ManifestCommit.seqBatchId(writerFor(conf, checkpointDir), batchId)
    if (ManifestCommit.current(conf, indexDir).isCommitted(bid)) None
    else Some(bid)
  }
}
