package graft.util

import org.apache.hadoop.fs.{LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A filesystem whose located listings throw: on the local filesystem
  * each `LocatedFileStatus` forks a process to load permissions, so
  * the footer count must get by on plain `listStatus`.
  */
class NoLocatedListFs extends ObjectStoreFs {
  override protected def scheme: String = "nolocfs"
  private def banned(p: Path) =
    throw new UnsupportedOperationException(s"located listing of $p")
  override def listFiles(p: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    banned(p)
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = banned(p)
  override protected def listLocatedStatus(p: Path, filter: PathFilter)
      : RemoteIterator[LocatedFileStatus] = banned(p)
}

class ParquetFootersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("rowCount counts a partitioned lay from footers without a located listing") {
    val dir = java.nio.file.Files.createTempDirectory("footers").toString
    spark.range(0, 1000, 1, 3).selectExpr("id", "id % 4 AS part")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.nolocfs.impl", classOf[NoLocatedListFs].getName)
    assert(ParquetFooters.rowCount(conf, s"nolocfs://$dir") == Some(1000L))
  }
}
