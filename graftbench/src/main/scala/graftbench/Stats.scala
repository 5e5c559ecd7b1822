package graftbench

/** Order statistics for latency samples. */
object Stats {

  /** A tail percentile: `level` in percent, `value` the sample at that
    * rank, `n` samples in all, `beyond` of them strictly above the rank.
    */
  final case class Tail(level: Double, value: Double, n: Int, beyond: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest nearest-rank percentile that still has at least
    * `minBeyond` samples beyond it; None when the run has too few samples
    * for any percentile to qualify.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val i = s.length - 1 - minBeyond
    if (i < 0) None
    else Some(Tail(100.0 * (i + 1) / s.length, s(i), s.length, minBeyond))
  }

  /** [[tail]] when it lies at or above the median; otherwise the slowest
    * sample (level 100, nothing beyond), since every run reports a tail.
    */
  def tailOrMax(xs: Seq[Double], minBeyond: Int = 10): Tail =
    tail(xs, minBeyond).filter(_.level >= 50)
      .getOrElse(Tail(100.0, xs.max, xs.length, 0))
}

/** JSON for the result records (ListMaps keep their key order). */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
