package graft.sources

import graft.jobs.{ExtractHostLinksJob, FileProcessorJob, HostGraphBuilder, LinkmapImport}
import graft.warc.{Fixtures, WarcSource, WarcWriter}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val (warcPath, offsets) = {
    val tmp = java.nio.file.Files.createTempFile("src", ".warc.gz").toString
    (tmp, WarcWriter.writeFile(tmp, Fixtures.all))
  }

  test("S5 CSV coordinates → ranged fetch round trip") {
    val csv = java.nio.file.Files.createTempFile("coords", ".csv")
    val rows = offsets.zip(Fixtures.all).collect {
      case ((off, len), r) if r.targetUri.isDefined =>
        s"${r.targetUri.get},$warcPath,$off,$len"
    }
    java.nio.file.Files.writeString(csv,
      ("url,warc_filename,warc_record_offset,warc_record_length" +: rows).mkString("\n"))
    val df = CoordinateSource.fromCsv(spark, csv.toString)
    assert(df.schema("warc_record_offset").dataType.typeName == "integer" ||
      df.schema("warc_record_offset").dataType.typeName == "long") // inferSchema
    val coords = CoordinateSource.toCoords(df, 2)
    val fetched = WarcSource.fetchRecords(spark, coords).collect()
    assert(fetched.length == rows.length)
  }

  test("S6 generic format scan (json)") {
    val dir = java.nio.file.Files.createTempDirectory("json_in").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part.json"),
      s"""{"url":"u1","warc_filename":"$warcPath","warc_record_offset":0,"warc_record_length":10}""")
    val df = CoordinateSource.fromTable(spark, dir, "json")
    assert(df.count() == 1)
    assert(df.columns.toSet == CoordinateSource.Columns.toSet)
  }

  test("S4 index SQL with explicit JSON schema") {
    val dir = java.nio.file.Files.createTempDirectory("idx").toString
    import spark.implicits._
    Seq(("u1", "f", 0L, 10L, "crawl-A"), ("u2", "f", 10L, 20L, "crawl-B"))
      .toDF("url", "warc_filename", "warc_record_offset", "warc_record_length", "crawl")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema.json
    val out = CoordinateSource.fromIndexQuery(spark, dir,
      "SELECT url, warc_filename, warc_record_offset, warc_record_length " +
        "FROM ccindex WHERE crawl = 'crawl-A'", schemaJson = Some(schema))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("u1"))
  }

  /** A ccindex over the fixture archive, as CCIndexWarcJob.buildIndex lays it. */
  lazy val builtIndex: String = {
    val root = java.nio.file.Files.createTempDirectory("ccidx").toString
    graft.jobs.CCIndexWarcJob.buildIndex(spark, Seq(warcPath), s"$root/indexed", s"$root/ccindex")
    s"$root/ccindex"
  }

  private val coordSql =
    "SELECT url, warc_filename, warc_record_offset, warc_record_length FROM %s " +
      "WHERE warc_type = 'response' AND crawl = 'CRAWL-LOCAL'"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("S4 index SQL without a schema starts no job before its action") {
    val view = "ccindex_nojob"
    val want = spark.read.parquet(builtIndex)
    val (out, jobs) = graft.util.JobGroups.startsJobs(spark) {
      CoordinateSource.fromIndexQuery(spark, builtIndex, coordSql.format(view), view)
    }
    assert(!jobs, "fromIndexQuery started a Spark job before the query's action")
    assert(spark.table(view).schema == want.schema) // nullability included
    want.createOrReplaceTempView(s"${view}_inferred")
    val got = rowsOf(out)
    assert(got.nonEmpty)
    assert(got == rowsOf(spark.sql(coordSql.format(s"${view}_inferred"))))
  }

  test("S4 index SQL over crawl= partition dirs falls back to inference") {
    val view = "ccindex_parts"
    val flat = spark.read.parquet(builtIndex)
    val root = java.nio.file.Files.createTempDirectory("ccidx_parts").toString + "/idx"
    flat.union(flat.withColumn("crawl", org.apache.spark.sql.functions.lit("CRAWL-OTHER")))
      .write.partitionBy("crawl").parquet(root)
    val out = CoordinateSource.fromIndexQuery(spark, root, coordSql.format(view), view)
    val schema = spark.table(view).schema
    assert(schema == spark.read.parquet(root).schema)
    assert(schema.fieldNames.last == "crawl", "crawl must come back as the partition column")
    flat.createOrReplaceTempView(s"${view}_flat")
    val got = rowsOf(out)
    assert(got.nonEmpty)
    assert(got == rowsOf(spark.sql(coordSql.format(s"${view}_flat"))))
  }

  test("S8/P15 whole-file fetch + md5 (external binary or JVM fallback)") {
    val manifest = java.nio.file.Files.createTempFile("m", ".txt")
    java.nio.file.Files.writeString(manifest, warcPath + "\n")
    val external = FileProcessorJob.md5sum(spark, manifest.toString, 1).collect()
    val jvm = FileProcessorJob.md5sum(spark, manifest.toString, 1,
      useExternal = false).collect()
    assert(external.length == 1 && jvm.length == 1)
    assert(external.head.getString(1) == jvm.head.getString(1)) // same digest
    assert(external.head.getString(1).matches("[0-9a-f]{32}"))
    // --local_temp_dir: spool goes to (and is cleaned from) the given dir
    val scratch = java.nio.file.Files.createTempDirectory("scratch").toString
    val viaDir = FileProcessorJob.md5sum(spark, manifest.toString, 1,
      tempDir = Some(scratch)).collect()
    assert(viaDir.head.getString(1) == jvm.head.getString(1))
    assert(new java.io.File(scratch).list().isEmpty, "scratch dir must be cleaned")
  }

  test("S8 many-rows-per-file hook streams through and cleans its temp file") {
    import spark.implicits._
    val manifest = java.nio.file.Files.createTempFile("m_many", ".txt")
    java.nio.file.Files.writeString(manifest, warcPath + "\n")
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spooled: Set[String] =
      tmpDir.list().filter(_.startsWith("graft_file")).toSet
    val before = spooled
    // hook that emits one row PER BYTE of the file — a materializing
    // implementation would buffer the whole expansion per file
    val rows = FileProcessorJob.processFiles[(String, Int)](
      spark, manifest.toString, 1) { (path, tmp) =>
      val n = java.nio.file.Files.size(tmp).toInt
      Iterator.range(0, n).map(i => (path, i))
    }.collect()
    assert(rows.length == new java.io.File(warcPath).length().toInt)
    assert(rows.map(_._2).toSet == (0 until rows.length).toSet)
    assert(spooled == before, "spooled temp file must be deleted on exhaustion")
  }

  test("S10 text dump → S12-style re-import round trip") {
    import spark.implicits._
    val edges = Seq(("com.a", "com.b"), ("com.b", "com.c")).toDF("s", "t")
    val g = HostGraphBuilder.build(spark, edges, vertexPartitions = 1)
    val out = java.nio.file.Files.createTempDirectory("dump").toString
    HostGraphBuilder.writeTextDumps(g, out, 1)
    // gzip text came out and reads back as the same edge set
    val files = new java.io.File(s"$out/edges_txt").listFiles()
      .filter(_.getName.endsWith(".txt.gz"))
    assert(files.nonEmpty)
    val back = LinkmapImport.fromText(spark, s"$out/edges_txt")
    val got = back.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = g.edges.collect().map(r => (r.getLong(0).toString, r.getLong(1).toString)).toSet
    assert(got == want)
  }

  test("S12 checkpoint: edges table persisted and continued from parquet") {
    val records = WarcSource.fromPaths(spark, Seq(warcPath), 1)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString + "/edges"
    val df = ExtractHostLinksJob.edgesWithCheckpoint(spark, records, ckpt)
    assert(df.count() > 0)
    assert(spark.read.parquet(ckpt).count() == df.count())
  }
}
