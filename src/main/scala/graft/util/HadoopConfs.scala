package graft.util

import java.io.ObjectInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Ships the Spark session's Hadoop configuration to executor tasks.
  *
  * Constructing `new Configuration()` on an executor drops every
  * `spark.hadoop.*` session setting (s3a credentials, endpoints,
  * timeouts), so distributed reads/writes against object storage fail
  * auth on a real cluster even though local[] tests pass.
  *
  * What is shipped: a copy of `sparkContext.hadoopConfiguration` taken
  * when [[ship]] is called (a snapshot; later session changes do not
  * reach it), held in ONE broadcast. The task closure captures only the
  * [[Shipped]] handle. Carrying the conf itself as a closure field put
  * its ~1,100 properties (~109 KB serialized) into every task and made
  * every task parse them again (~5 ms); a broadcast is serialized once
  * per `ship` call and fetched and deserialized once per executor.
  *
  * Deserializing a [[Shipped]] in a task installs the broadcast conf
  * JVM-wide, where [[get]] picks it up for every downstream open/create.
  * The installed conf is shared by all tasks of an executor, so callers
  * of [[get]] must only read it.
  */
object HadoopConfs {

  @volatile private var installed: Configuration = _

  /** The shipped session conf when a task carries one, else a default. */
  def get: Configuration = {
    val c = installed
    if (c != null) c else new Configuration()
  }

  def install(conf: Configuration): Unit = { installed = conf }

  /** Driver-side snapshot of the session conf, broadcast once, for
    * closure capture.
    */
  def ship(spark: SparkSession): Shipped = {
    val sc = spark.sparkContext
    new Shipped(sc.broadcast(
      new SerializableConfiguration(new Configuration(sc.hadoopConfiguration))))
  }

  /** Serializable handle on a broadcast conf; installs the conf via
    * [[install]] when deserialized in a task.
    */
  final class Shipped private[HadoopConfs] (bc: Broadcast[SerializableConfiguration])
      extends Serializable {

    def value: Configuration = bc.value.value

    /** Idempotent explicit install for same-JVM (local-mode) callers. */
    def installHere(): Unit = HadoopConfs.install(value)

    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      HadoopConfs.install(value)
    }
  }
}
