package graft.perfbench

/** The one percentile rule every timing in the benchmark goes through.
  *
  * Nearest rank: the p-th percentile of n sorted samples is the
  * ceil(n·p/100)-th of them (1-based). A percentile is only reported
  * when at least [[MinBeyond]] samples lie strictly above its rank,
  * so a p99 needs 1,000 samples and a p50 needs 20; below that the
  * figure is a handful of outliers, not a tail. */
object Stats {

  val MinBeyond = 10

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(n * p / 100.0 - 1e-9).toInt))

  /** The p-th percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def percentile(samples: Seq[Double], p: Double): Option[Double] = {
    val n = samples.size
    if (n == 0) None
    else {
      val r = rank(n, p)
      if (n - r < MinBeyond) None else Some(samples.sorted.apply(r - 1))
    }
  }

  /** Median with no tail rule: for small fixed sets (set-up repeats,
    * per-batch counts) where the middle value is the figure wanted. */
  def median(samples: Seq[Double]): Option[Double] =
    if (samples.isEmpty) None
    else Some(samples.sorted.apply(rank(samples.size, 50) - 1))

  def geomean(samples: Seq[Double]): Option[Double] =
    if (samples.isEmpty || samples.exists(_ <= 0)) None
    else Some(math.exp(samples.map(math.log).sum / samples.size))

  /** Accumulator for the high-rate series (acks, marker visibility,
    * query replies). Thread-safe appends. */
  final class Series {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
    def add(v: Double): Unit = synchronized { buf += v; () }
    def values: Seq[Double] = synchronized(buf.toVector)
    def size: Int = synchronized(buf.size)
  }
}
