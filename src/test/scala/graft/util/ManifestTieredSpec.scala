package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The shared size-tiered compaction driver over synthetic tables. */
class ManifestTieredSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("each table's fold lays its run files by its own rows, not the dominant table's") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("mt_fold").toString
    val schema = StructType(Seq(StructField("k", LongType)))
    def lay(table: String, n: Long) =
      ManifestTiered.layDir(spark, dir, table, spark.range(n).toDF("k"),
        partitionBy = Nil, sortKeys = Nil)
    // the dominant table's 1,000-row tail is under its 2,000-row base:
    // the policy picks a Minor fold; the sidecar has 10 tail rows
    val laid = Seq("main" -> 2000L, "main.tail" -> 1000L,
      "side" -> 20L, "side.tail" -> 10L).map { case (t, n) => t -> lay(t, n) }
    ManifestCommit.publish(conf, dir, m => laid.foldLeft(m) {
      case (acc, (t, e)) => ManifestCommit.addDir(acc, t, e.dir, e.rows)
    })
    def spec(name: String) = ManifestTiered.FoldSpec(name, schema,
      basePartitionBy = Nil, baseSortKeys = Seq(col("k")),
      runSortKeys = Seq(col("k")), runRowsPerFile = 100L)
    ManifestTiered.compactTables(spark, dir, Seq(spec("main"), spec("side")))
    val m = ManifestCommit.current(conf, dir)
    def runFiles(name: String): Int = {
      val runs = m.table(ManifestTiered.l1Table(name))
      assert(runs.size == 1, s"$name: expected one L1 run, got $runs")
      new java.io.File(s"$dir/${runs.head}").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    assert(m.rows(ManifestTiered.l1Table("side")) == 10L)
    assert(runFiles("side") == 1, "a 10-row run at 100 rows per file is one file")
    assert(runFiles("main") > 1, "the 1,000-row run still spreads over several files")
  }
}
