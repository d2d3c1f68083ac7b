package graftbench

import graft.functions.{HarSyntheticSeries, Kernels}

/** Single-thread timings of graft's distance kernels at the workloads'
  * real shapes (L = 561, band 56, PAA factor 8), over pairs of the same
  * generated series the workloads use. Each kernel is warmed until the
  * JIT has compiled it, then timed in several slices; the result is the
  * median slice's nanoseconds per pair.
  */
object KernelProbe {
  @volatile private var sink = 0.0

  private def series(off: Long, n: Int): Array[Array[Double]] =
    Array.tabulate(n)(i => HarSyntheticSeries.series(off + i, Workloads.L).toDoubleArray())

  /** Cells a banded DTW fills for two length-n series. */
  def dtwCells(n: Int, band: Int): Long =
    (1 to n).map(i => (math.min(n, i + band) - math.max(1, i - band) + 1).toLong).sum

  private def nsPerPair(a: Array[Array[Double]], b: Array[Array[Double]],
      warmMs: Long, sliceMs: Long, slices: Int)(f: (Array[Double], Array[Double]) => Double): Double = {
    var i = 0
    def pass(untilMs: Long): (Long, Long) = {
      val t0 = System.nanoTime()
      val end = t0 + untilMs * 1000000L
      var pairs = 0L
      var s = 0.0
      var now = t0
      while (now < end) {
        var j = 0
        while (j < 16) {
          s += f(a(i % a.length), b((i * 7 + j) % b.length))
          j += 1
        }
        pairs += 16
        i += 1
        now = System.nanoTime()
      }
      sink += s
      (now - t0, pairs)
    }
    pass(warmMs)
    val perPair = (0 until slices).map { _ =>
      val (ns, pairs) = pass(sliceMs)
      ns.toDouble / pairs
    }
    Stats.median(perPair)
  }

  def run(seed: Long): Map[String, Double] = {
    val a = series(Workloads.trainOffset(seed), 64)
    val b = series(Workloads.testOffset(seed), 64)
    val pa = a.map(Kernels.paa(_, Workloads.Paa))
    val pb = b.map(Kernels.paa(_, Workloads.Paa))
    Map(
      "dtw_ns_per_pair" -> nsPerPair(a, b, 400, 100, 5)(Kernels.dtw(_, _, Workloads.Band)),
      "dtw_cells_per_pair" -> dtwCells(Workloads.L, Workloads.Band).toDouble,
      "paa_manhattan_ns_per_pair" -> nsPerPair(pa, pb, 200, 50, 5)(Kernels.manhattan),
      "euclidean_ns_per_pair" -> nsPerPair(a, b, 200, 50, 5)(Kernels.euclidean))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
