package graft.perfbench

import scala.io.Source

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, sample count); (0, 0, n) below eleven samples. */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double, Int) =
    if (xs.size < 11) (0.0, 0.0, xs.size)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size, s.size)
    }

  /** Peak resident set of this process (`VmHWM` in `/proc/self/status`), in MB. */
  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).get
}
