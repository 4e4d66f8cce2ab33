package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * Expected results computed in the benchmark JVM from the seed alone, with no
 * engine code: crossing-number point-in-polygon, a plain distance test and
 * a brute-force haversine top-k. The benchmark compares each operation's
 * output against these.
 */
object Truth {

  /** `f` over `xs` on the global thread pool, results in order. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    xs.map(x => Future(f(x))(ExecutionContext.global)).map(Await.result(_, Duration.Inf))

  /** Crossing-number test (W. R. Franklin's PNPOLY) over a closed ring. */
  def inRing(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean = {
    var inside = false
    var i = 0; var j = xs.length - 2 // last vertex repeats the first
    while (i < xs.length - 1) {
      if ((ys(i) > y) != (ys(j) > y) &&
        x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i)) inside = !inside
      j = i; i += 1
    }
    inside
  }

  final class Ring(val id: Long, val xs: Array[Double], val ys: Array[Double]) {
    val xmin: Double = xs.min; val xmax: Double = xs.max
    val ymin: Double = ys.min; val ymax: Double = ys.max
  }

  def rings(ps: Array[Gen.Poly]): Array[Ring] =
    ps.map(p => new Ring(p.id, p.ring.map(_.x), p.ring.map(_.y)))

  /** Bounding-box grid index over rings: rings up to 16 cells of
    * `cellDeg` across go into a fine grid, larger ones into a grid 16 times
    * coarser. */
  final class Index(rs: Array[Ring], cellDeg: Double) {
    private final class Grid(deg: Double) {
      val cells = mutable.HashMap.empty[Long, Array[Int]]
      def cx(x: Double) = math.floor((x + 180) / deg).toInt
      def cy(y: Double) = math.floor((y + 90) / deg).toInt
      def key(a: Int, b: Int): Long = a.toLong * 100000L + b
      def fits(r: Ring) = cx(r.xmax) - cx(r.xmin) <= 16 && cy(r.ymax) - cy(r.ymin) <= 16
      def add(is: Seq[Int]): Unit = {
        val acc = mutable.HashMap.empty[Long, ArrayBuffer[Int]]
        is.foreach { i =>
          val r = rs(i)
          for (a <- cx(r.xmin) to cx(r.xmax); b <- cy(r.ymin) to cy(r.ymax))
            acc.getOrElseUpdate(key(a, b), ArrayBuffer.empty) += i
        }
        acc.foreach { case (k, v) => cells(k) = v.toArray }
      }
      def get(x: Double, y: Double): Array[Int] = cells.getOrElse(key(cx(x), cy(y)), Array.emptyIntArray)
    }
    private val fine = new Grid(cellDeg)
    private val coarse = new Grid(cellDeg * 16)
    locally {
      val (f, c) = rs.indices.partition(i => fine.fits(rs(i)))
      fine.add(f); coarse.add(c)
    }
    /** Indexes of rings whose bounding box may hold (x, y). */
    def candidates(x: Double, y: Double): Array[Int] = {
      val a = fine.get(x, y); val b = coarse.get(x, y)
      if (b.isEmpty) a else if (a.isEmpty) b else a ++ b
    }
  }

  /** Every (polygon, page) pair with the page strictly inside the polygon:
    * fingerprint over all pairs, the pairs of sampled pages, and a sample
    * of candidate pairs (bounding box holds the point) in page order. */
  final case class Pairs(n: Long, hash: Long, sample: Map[Long, Set[Long]],
                         candidates: Array[(Int, Int)])

  def containsPairs(truth: Gen.Truth, rs: Array[Ring], sampled: Long => Boolean,
                    cellDeg: Double): Pairs = {
    val idx = new Index(rs, cellDeg)
    // pages in Main.Cores contiguous slices, one thread each; the slices'
    // candidate samples are joined in page order
    val slice = (truth.n + Main.Cores - 1) / Main.Cores
    val parts = parMap(0 until truth.n by slice)(from =>
      containsSlice(truth, rs, idx, sampled, from, math.min(truth.n, from + slice)))
    Pairs(parts.map(_.n).sum, parts.map(_.hash).sum, parts.flatMap(_.sample).toMap,
      parts.flatMap(_.candidates).take(MaxCandidates).toArray)
  }

  private val MaxCandidates = 200000

  private def containsSlice(truth: Gen.Truth, rs: Array[Ring], idx: Index, sampled: Long => Boolean,
                            from: Int, until: Int): Pairs = {
    var n = 0L; var h = 0L
    val sample = mutable.Map.empty[Long, Set[Long]]
    val cand = ArrayBuffer.empty[(Int, Int)]
    var i = from
    while (i < until) {
      val x = truth.lon(i); val y = truth.lat(i)
      val cs = idx.candidates(x, y)
      val s = sampled(i.toLong)
      var k = 0
      while (k < cs.length) {
        val r = rs(cs(k))
        if (x >= r.xmin && x <= r.xmax && y >= r.ymin && y <= r.ymax) {
          if (cand.length < MaxCandidates && i % 7 == 0) cand += ((cs(k), i))
          if (inRing(r.xs, r.ys, x, y)) {
            n += 1; h += Harness.hashLongs(r.id, i.toLong)
            if (s) sample(i.toLong) = sample.getOrElse(i.toLong, Set.empty) + r.id
          }
        }
        k += 1
      }
      if (s && !sample.contains(i.toLong)) sample(i.toLong) = Set.empty
      i += 1
    }
    Pairs(n, h, sample.toMap, cand.toArray)
  }

  /** Pairs (centre, page) with squared planar distance below radius^2,
    * written as the distance join defines it. */
  def dwithinPairs(truth: Gen.Truth, centres: Array[(Long, Double, Double)], r: Double,
                   sampled: Long => Boolean): Pairs = {
    val boxes = centres.map { case (id, x, y) =>
      new Ring(id, Array(x - r, x + r, x + r, x - r, x - r), Array(y - r, y - r, y + r, y + r, y - r))
    }
    val idx = new Index(boxes, 1.0)
    var n = 0L; var h = 0L
    val sample = mutable.Map.empty[Long, Set[Long]]
    var i = 0
    while (i < truth.n) {
      val x = truth.lon(i); val y = truth.lat(i)
      val s = sampled(i.toLong)
      if (s) sample(i.toLong) = Set.empty
      idx.candidates(x, y).foreach { k =>
        val (id, cx, cy) = centres(k)
        val dx = x - cx; val dy = y - cy
        if (dx * dx + dy * dy < r * r) {
          n += 1; h += Harness.hashLongs(id, i.toLong)
          if (s) sample(i.toLong) = sample(i.toLong) + id
        }
      }
      i += 1
    }
    Pairs(n, h, sample.toMap, Array.empty)
  }

  val EarthRadiusMeters = 6371008.8

  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val a = math.pow(math.sin(math.toRadians(lat2 - lat1) / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(math.toRadians(lon2 - lon1) / 2), 2)
    2.0 * EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Brute-force k nearest pages by haversine metres, ties by id. */
  def knn(truth: Gen.Truth, qlon: Double, qlat: Double, k: Int): Array[(Long, Double)] = {
    // bounded max-heap on (distance, id); pages are visited in id order, so
    // a later page with an equal distance never displaces an earlier one
    val heap = mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < truth.n) {
      val d = haversine(qlon, qlat, truth.lon(i), truth.lat(i))
      if (heap.size < k) heap.enqueue((d, i.toLong))
      else if (d < heap.head._1) { heap.dequeue(); heap.enqueue((d, i.toLong)) }
      i += 1
    }
    heap.toArray.sorted.map { case (d, id) => (id, d) }
  }
}
