package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, results: Path, launchMs: Long, quick: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      java.nio.file.Paths.get(get("work")).toAbsolutePath,
      java.nio.file.Paths.get(get("results")).toAbsolutePath,
      m.get("launch-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      m.get("quick").contains("1"))
  }
}

/** One timed, output-checked step of the measured phase. */
final case class Sample(kind: String, seconds: Double, cpuS: Double,
                        traced: Boolean, ok: Boolean)

/** State shared by a run: the session, the trace, and every sample. */
final class Run(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer
  val acct = new OpAccounting(spark, tracer)
  val samples = ArrayBuffer.empty[Sample]
  val failures = ArrayBuffer.empty[String]
  var measuring = false
  var traced = false
  /** Work units completed in the measured phase, and the wall time they took. */
  var work = 0.0
  var workWallS = 0.0

  def dir(name: String): Path = Files.createDirectories(args.work.resolve(name))

  def fail(what: String, why: String): Unit = {
    if (failures.length < 50) failures += s"$what: $why"
    Run.log(s"FAILED $what: $why")
  }

  /** Time `body` as one step of `kind` ("op", "probe" or "compact"; each
    * counts as attempted and toward the workload's wall time), then check
    * its result outside the timed interval. A throw counts as a failure.
    */
  def step[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Double = {
    val op = tracer.newOp()
    val c0 = Host.processCpuS()
    val t0 = System.nanoTime()
    val out: Either[Throwable, T] =
      try Right(
        if (traced) acct.op(kind, op) { tracer.span(kind, name)(body) }
        else body)
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = Host.processCpuS() - c0
    val why = out match {
      case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(400))
      case Right(v) =>
        try check(v) catch { case e: Exception => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    why.foreach(fail(s"$kind $name", _))
    Run.log(f"$kind $name ${secs}%.3f s${if (traced) " (traced)" else ""}")
    if (measuring) {
      samples += Sample(kind, secs, cpu, traced, why.isEmpty)
      if (!traced) workWallS += secs
    }
    secs
  }

  /** Count work done by an untraced unit of the measured phase. */
  def addWork(n: Double): Unit = if (measuring && !traced) work += n

  def stepsOf(kind: String, traced: Boolean): Seq[Sample] =
    samples.toSeq.filter(s => s.kind == kind && s.traced == traced)

  /** A traced-only helper step (timing a layer outside the measured
    * ops): accounted under `bucket`, never counted as work.
    */
  def aux[T](bucket: String)(body: => T): (T, Double) = {
    val op = tracer.newOp()
    val t0 = System.nanoTime()
    val out = acct.op(bucket, op) { tracer.span(bucket, bucket)(body) }
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** A named span inside an op (no-op when untraced). */
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
}

object Run {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $msg")
}

/** Byte counts and file lists under a directory tree. */
object Tree {
  import scala.jdk.CollectionConverters._

  def files(root: Path): Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toVector
      finally st.close()
    }

  def bytes(root: Path): Long = files(root).map(_._2).sum

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  def copy(from: Path, to: Path): Unit = {
    delete(to)
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally st.close()
  }
}
