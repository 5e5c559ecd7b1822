package graft.util

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HadoopConfsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session-style setting (what spark.hadoop.* becomes) under a key
    * no other suite sets. Suites share one SparkContext, so it stays on
    * its hadoopConfiguration; nothing reads it but this suite.
    */
  private def sessionKey(value: String): String = {
    val key = s"graft.test.hadoopconfs.${java.util.UUID.randomUUID()}"
    spark.sparkContext.hadoopConfiguration.set(key, value)
    key
  }

  private def serialize(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.toByteArray
  }

  test("Shipped conf survives Java serialization and installs on read") {
    val key = sessionKey("https://object.store.test")
    val bytes = serialize(HadoopConfs.ship(spark))
    // deserialization is what a task does with the captured closure —
    // it must both restore the value and install it JVM-wide
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[HadoopConfs.Shipped]
    assert(back.value.get(key) == "https://object.store.test")
    assert(HadoopConfs.get.get(key) == "https://object.store.test")
    // and the installed conf still carries Hadoop defaults, so ordinary
    // file: FileSystem resolution keeps working after the install
    val p = new org.apache.hadoop.fs.Path("file:///tmp")
    assert(p.getFileSystem(HadoopConfs.get) != null)
  }

  test("a session setting is visible through HadoopConfs.get inside a task") {
    val key = sessionKey("in-task")
    val shipped = HadoopConfs.ship(spark)
    val seen = spark.sparkContext.parallelize(1 to 4, 4)
      .map { _ =>
        // the closure captures `shipped`: deserializing the task installs it
        require(shipped != null)
        HadoopConfs.get.get(key)
      }
      .collect()
    assert(seen.toSeq == Seq.fill(4)("in-task"))
  }

  test("a serialized Shipped carries a broadcast handle, not the conf") {
    val bytes = serialize(HadoopConfs.ship(spark)).length
    // the conf itself is ~1,100 properties, ~109 KB serialized
    assert(bytes < 4096, s"serialized Shipped is $bytes bytes")
  }
}
