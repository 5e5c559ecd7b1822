package graft.sources

import graft.warc.WarcSource.RecordCoord
import graft.util.ParquetFooters
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Coordinate-table loading for the index→payload join (reference
  * sparkcc.py:569-607): SQL over the columnar index, CSV, or any generic
  * format — S4/S5/S6 in SURVEY §2.1.
  */
object CoordinateSource {

  val Columns = Seq("url", "warc_filename", "warc_record_offset", "warc_record_length")

  /** S5: CSV with header+inferSchema (sparkcc.py:591-593). */
  def fromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S6: generic format + reader options (sparkcc.py:594-598). */
  def fromTable(spark: SparkSession, path: String, format: String,
                options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format).options(options).load(path)

  /** S4/E2: SQL text over a registered parquet index view
    * (sparkcc.py:489-506) — the one user-SQL entry point.
    *
    * Without `schemaJson`, the view's schema comes from one footer read on
    * the driver instead of Spark's schema-inference job: the first data
    * file directly under `indexPath` (by path, the file inference would
    * pick) must be a `*.parquet` file whose footer carries Spark's
    * `org.apache.spark.sql.parquet.row.metadata` schema, and that schema
    * is passed to the reader as is. Any other layout falls back to
    * `spark.read.parquet`'s own inference: an index root holding
    * subdirectories (`crawl=…/` partitions), summary files, a first data
    * file that is not `*.parquet` or lacks the key, or schema merging
    * turned on. Either way the view has exactly the schema
    * `spark.read.parquet(indexPath)` would give it.
    */
  def fromIndexQuery(spark: SparkSession, indexPath: String, query: String,
                     viewName: String = "ccindex",
                     schemaJson: Option[String] = None): DataFrame = {
    val schema = schemaJson
      .map(js => DataType.fromJson(js).asInstanceOf[StructType])
      .orElse(footerSchema(spark, indexPath))
    schema.fold(spark.read)(spark.read.schema).parquet(indexPath)
      .createOrReplaceTempView(viewName)
    spark.sql(query)
  }

  /** The Spark schema recorded in the footer of the file that parquet
    * schema inference would read for a flat `root`, or None where that
    * rule does not apply (see [[fromIndexQuery]]).
    */
  private def footerSchema(spark: SparkSession, root: String): Option[StructType] = {
    val rootPath = new Path(root)
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        root.exists("{}[]*?\\".contains(_))) return None
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)
    val listed = try fs.listStatus(rootPath)
                 catch { case _: java.io.FileNotFoundException => return None }
    // what Spark's file index lists: it skips ._COPYING_ files and names
    // starting with "." or "_", except "_x=y" partitions and summary files
    val visible = listed.filterNot { s =>
      val n = s.getPath.getName
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
        !n.startsWith("_metadata") && !n.startsWith("_common_metadata")
    }
    if (visible.exists(s => s.isDirectory || s.getPath.getName.startsWith("_"))) return None
    visible.sortBy(_.getPath.toString).headOption
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap(ParquetFooters.sparkSchema(conf, _))
  }

  /** Project/validate coordinate columns and repartition for the fetch
    * phase (sparkcc.py:600-603, 645-648). Sorting within partitions by
    * (file, offset) makes the ranged reads sequential per archive.
    */
  def toCoords(df: DataFrame, numPartitions: Int,
               charsetCol: Option[String] = None): Dataset[RecordCoord] = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      col("url").cast("string"),
      col("warc_filename").cast("string"),
      col("warc_record_offset").cast("long"),
      col("warc_record_length").cast("long"),
      charsetCol.map(c => col(c).cast("string")).getOrElse(lit(null: String))
        .as("content_charset"))
    base.repartition(numPartitions, col("warc_filename"))
      .sortWithinPartitions(col("warc_filename"), col("warc_record_offset"))
      .as[RecordCoord]
  }
}
