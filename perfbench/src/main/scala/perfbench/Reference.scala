package perfbench

import java.util.Arrays

/**
 * Driver-side reference answers, computed once per run of the benchmark from
 * the same edge table the engine reads, with no Spark in the loop. Every
 * timed engine run is checked against them outside the timed bracket.
 */
object Reference {

  /** Sorted distinct vertex ids of an edge list; `index` maps an id to its slot. */
  final class Vertices(src: Array[Long], dst: Array[Long]) {
    val ids: Array[Long] = {
      val all = new Array[Long](src.length + dst.length)
      System.arraycopy(src, 0, all, 0, src.length)
      System.arraycopy(dst, 0, all, src.length, dst.length)
      Arrays.sort(all)
      var k = 0
      var i = 0
      while (i < all.length) {
        if (k == 0 || all(i) != all(k - 1)) { all(k) = all(i); k += 1 }
        i += 1
      }
      Arrays.copyOf(all, k)
    }
    def index(id: Long): Int = Arrays.binarySearch(ids, id)
    def n: Int = ids.length
  }

  /** Ranks after the run, the L1 of every superstep, and the superstep count. */
  final case class Ranks(ids: Array[Long], rank: Array[Double], l1: Seq[Double]) {
    def steps: Int = l1.length
  }

  /**
   * Damped power iteration over a multigraph (a duplicated edge carries its
   * share twice), with the engine's arithmetic: dangling mass redistributed
   * uniformly, stop after the first superstep whose L1 is below `eps` or
   * after `maxIter` supersteps.
   */
  def pageRank(src: Array[Long], dst: Array[Long], eps: Double, maxIter: Int,
               d: Double = 0.85): Ranks = {
    val v = new Vertices(src, dst)
    val n = v.n
    val s = src.map(v.index)
    val t = dst.map(v.index)
    val outDeg = new Array[Int](n)
    s.foreach(i => outDeg(i) += 1)
    var rank = Array.fill(n)(1.0 / n)
    val l1s = Vector.newBuilder[Double]
    var l1 = Double.MaxValue
    var it = 0
    while (l1 >= eps && it < maxIter) {
      var transmitted = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) > 0) transmitted += rank(i); i += 1 }
      val dangling = math.max(0.0, 1.0 - transmitted)
      val sums = new Array[Double](n)
      var e = 0
      while (e < s.length) { sums(t(e)) += rank(s(e)) / outDeg(s(e)); e += 1 }
      val base = (1.0 - d) / n + d * dangling / n
      val next = new Array[Double](n)
      l1 = 0.0
      i = 0
      while (i < n) {
        next(i) = base + d * sums(i)
        l1 += math.abs(next(i) - rank(i))
        i += 1
      }
      l1s += l1
      rank = next
      it += 1
    }
    Ranks(v.ids, rank, l1s.result())
  }
}
