package graftbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the root), `op` the id of the op the call belongs to. Times are epoch
  * microseconds.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startUs: Long, endUs: Long) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** Spans recorded around the benchmark's own calls into graft. When off,
  * `span` runs the body and records nothing.
  */
final class Tracer {
  @volatile var on: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def all: Seq[Span] = spans.toSeq

  /** A new op id; spans opened until the next call belong to it. */
  def newOp(): Int = { opId += 1; opId }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowUs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, layer, name, t0, nowUs)
      }
    }

  /** Record an externally timed interval (a Spark job) as a child of the
    * innermost recorded span of `op` that contains its start.
    */
  def addChild(op: Int, layer: String, name: String, startUs: Long, endUs: Long): Unit = {
    val parent = spans.iterator
      .filter(s => s.op == op && s.layer != "spark" && s.startUs <= startUs && startUs <= s.endUs)
      .minByOption(_.durS).map(_.id).getOrElse(0)
    spans += Span(nextId, parent, op, layer, name, startUs, endUs)
    nextId += 1
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val covered = Intervals.unionLength(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs))).toSeq)
        s.durS - covered / 1e6
      }.sum
    }
  }
}

object Intervals {
  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The benchmark's own SparkListener: job intervals and task totals. */
final class SparkCounters extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val inputBytes = new LongAdder
  val inputRecords = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  val outputBytes = new LongAdder
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment(); open.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = open.remove(e.jobId)
    done.add((s * 1000L, e.time * 1000L))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRecords.add(m.inputMetrics.recordsRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.add(m.outputMetrics.bytesWritten)
    }
  }

  /** Job intervals (epoch µs) that ended since the last call. */
  def drainJobs(): Seq[(Long, Long)] = {
    val b = ArrayBuffer.empty[(Long, Long)]
    var x = done.poll()
    while (x != null) { b += x; x = done.poll() }
    b.toSeq
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "run_ms" -> runMs.sum, "cpu_ns" -> cpuNs.sum, "input_bytes" -> inputBytes.sum,
    "input_records" -> inputRecords.sum, "shuffle_write" -> shuffleWrite.sum,
    "spill" -> spill.sum, "output_bytes" -> outputBytes.sum)
}

/** Process-level counters read from outside the program. */
object Host {

  /** Aggregate `cpu` line of /proc/stat: (total, iowait, steal) jiffies. */
  def procStat(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.take(8).sum, if (f.length > 4) f(4) else 0L, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L, 0L) }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Heap in use after a full collection, in MB. The pause between two
    * collections lets Spark's ContextCleaner drop the blocks the first one
    * made unreachable; without it the reading flips between two levels.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(1000)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  final case class Noise(wallS: Double, cpuS: Double, gcS: Double,
                         stealRatio: Double, iowaitRatio: Double) {
    def record: Map[String, Any] = Map("wall_s" -> wallS, "process_cpu_s" -> cpuS,
      "gc_s" -> gcS, "steal_ratio" -> stealRatio, "iowait_ratio" -> iowaitRatio)
  }

  /** Starts a measurement window; `stop` gives the deltas over it. */
  final class Window {
    private val t0 = System.nanoTime()
    private val cpu0 = processCpuS()
    private val gc0 = gcS()
    private val (tot0, io0, st0) = procStat()
    def stop(): Noise = {
      val (tot1, io1, st1) = procStat()
      val dt = math.max(1L, tot1 - tot0).toDouble
      Noise((System.nanoTime() - t0) / 1e9, processCpuS() - cpu0, gcS() - gc0,
        (st1 - st0) / dt, (io1 - io0) / dt)
    }
  }
}

/** Spark's generated-code compile histogram, read as deltas. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def compiles: Long = h.getCount
  /** Mean compile time in ms over the histogram's recent reservoir. */
  def meanMs: Double = h.getSnapshot.getMean
}

/** Per-op Spark accounting for traced steps, kept per bucket (the step
  * kind): counter deltas, and each step's wall time outside any job.
  */
final class OpAccounting(spark: org.apache.spark.sql.SparkSession, tracer: Tracer) {
  val listener = new SparkCounters
  private val sums = scala.collection.mutable.HashMap.empty[(String, String), Double]
  private val counts = scala.collection.mutable.HashMap.empty[String, Int]

  private def drain(): Unit =
    org.apache.spark.GraftbenchBridge.drainListenerBus(spark.sparkContext)

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)
  def detach(): Unit = { drain(); spark.sparkContext.removeSparkListener(listener) }

  private def add(b: String, k: String, v: Double): Unit =
    sums((b, k)) = sums.getOrElse((b, k), 0.0) + v

  /** Run one traced step; its counters, job spans and driver-only time
    * are recorded once the listener bus has drained (outside its time).
    */
  def op[T](bucket: String, opId: Int)(body: => T): T = {
    drain()
    listener.drainJobs()
    val before = listener.snapshot
    val cg0 = Codegen.compiles
    val gc0 = Host.gcS()
    val t0 = tracer.nowUs
    val out = body
    val t1 = tracer.nowUs
    val gc1 = Host.gcS()
    drain()
    val after = listener.snapshot
    val jobs = listener.drainJobs()
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }
    jobs.zipWithIndex.foreach { case ((s, e), i) => tracer.addChild(opId, "spark", s"job$i", s, e) }
    counts(bucket) = count(bucket) + 1
    after.foreach { case (k, v) => add(bucket, k, (v - before(k)).toDouble) }
    val compiles = Codegen.compiles - cg0
    add(bucket, "codegen_compiles", compiles.toDouble)
    add(bucket, "codegen_ms", compiles * Codegen.meanMs)
    add(bucket, "gc_s", gc1 - gc0)
    add(bucket, "wall_s", (t1 - t0) / 1e6)
    add(bucket, "driver_only_s", (t1 - t0 - Intervals.unionLength(jobs)) / 1e6)
    out
  }

  def count(bucket: String): Int = counts.getOrElse(bucket, 0)
  def total(bucket: String, k: String): Double = sums.getOrElse((bucket, k), 0.0)
  def perOp(bucket: String, k: String): Double =
    if (count(bucket) == 0) 0.0 else total(bucket, k) / count(bucket)
}
