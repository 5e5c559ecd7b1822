package graft.util

import org.apache.hadoop.conf.Configuration

/** Driver-side parquet footer arithmetic for freshly-laid index dirs.
  *
  * A manifest [[ManifestCommit.DirEntry]] records its dir's exact row
  * count at lay time. Counting via `spark.read.parquet(dir).count()`
  * is metadata-only I/O but still a full Spark JOB (schedule, task per
  * split, result collection) — a fixed per-lay constant that the
  * streaming drains pay on every tail lay of every micro-batch
  * (bands.tail + sigs.tail). A fresh lay is a handful of part files
  * whose footers the driver can read directly: same exact number, zero
  * jobs.
  *
  * Scale guard: above `MaxDriverFiles` files (a Major-compacted base at
  * corpus scale, where per-file footer round-trips on an object store
  * would serialize on the driver) callers should fall back to the
  * distributed count — [[rowCount]] returns None and the caller keeps
  * the Spark-job path.
  */
object ParquetFooters {

  private val MaxDriverFiles = 256

  /** Exact total row count of every parquet part file under `dir`
    * (recursive — partitioned lays keep part files in partition
    * subdirs), from footers read on the driver. None when the dir
    * holds more than [[MaxDriverFiles]] part files — the caller's cue
    * to run a distributed count instead.
    */
  def rowCount(conf: Configuration, dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    // only data files count: committers drop _SUCCESS and dot-files
    val files = listRecursive(p.getFileSystem(conf), p).filter { f =>
      val name = f.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") && f.getLen > 0
    }.take(MaxDriverFiles + 1).toVector
    if (files.length > MaxDriverFiles) return None
    var total = 0L
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try total += r.getRecordCount finally r.close()
    }
    Some(total)
  }

  /** Every file under `root`, depth first, lazily, by recursive
    * `listStatus`. Not `listFiles(recursive)`: that builds a
    * `LocatedFileStatus` per file, and on the local filesystem each one
    * loads its permissions by forking `ls -ld`.
    */
  def listRecursive(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path)
      : Iterator[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(root).iterator.flatMap { st =>
      if (st.isDirectory) listRecursive(fs, st.getPath) else Iterator.single(st)
    }

  /** The Spark schema a parquet file's footer records under
    * `org.apache.spark.sql.parquet.row.metadata` (written by every Spark
    * parquet write), or None when the key is absent or unparsable.
    */
  def sparkSchema(conf: Configuration, file: org.apache.hadoop.fs.FileStatus)
      : Option[org.apache.spark.sql.types.StructType] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val kv = try r.getFooter.getFileMetaData.getKeyValueMetaData finally r.close()
    Option(kv.get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
  }
}
