package graft.query

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** [[QueryEngine.BoundedTopK]] against a sort-based reference of the same
  * rule: keep the first m entries, then replace the worst kept entry (the
  * maximum of the (-score, docId) tuple order) when a new entry has a
  * higher score, or an equal score and a smaller docId. Seeded streams with
  * score ties, 0.0 and -0.0, and m both below and above the stream length. */
class BoundedTopKSpec extends AnyFunSuite {

  private val worseFirst = Ordering.by[(Long, Double), (Double, Long)] {
    case (d, s) => (-s, d)
  }

  /** Bitwise-comparable, order-free view of a result set. */
  private def canon(xs: Seq[(Long, Double)]): Seq[(Long, Long)] =
    xs.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }.sorted

  private def stream(rnd: Random): Seq[(Long, Double)] = {
    val n = rnd.nextInt(60)
    val ids = rnd.shuffle((0L until 3L * n + 1).toList).take(n)
    val pool = Array(0.0, -0.0, 1.5, 2.25, -1.0, 3.0, 1.5e-300)
    ids.map { d =>
      val s = rnd.nextInt(3) match {
        case 0 => pool(rnd.nextInt(pool.length))
        case 1 => rnd.nextInt(4).toDouble
        case _ => rnd.nextGaussian()
      }
      (d, s)
    }
  }

  test("BoundedTopK == sort-based reference (2000 random streams)") {
    val rnd = new Random(20240)
    (1 to 2000).foreach { _ =>
      val xs = stream(rnd)
      val m = 1 + rnd.nextInt(xs.length + 5)
      val heap = new QueryEngine.BoundedTopK(m)
      val kept = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      xs.foreach { case (d, s) =>
        heap.add(d, s)
        if (kept.size < m) kept += ((d, s))
        else {
          val w = kept.max(worseFirst)
          if (s > w._2 || (s == w._2 && d < w._1)) kept(kept.indexOf(w)) = (d, s)
        }
        assert(heap.full == (kept.size >= m))
        val refFloor = if (kept.size >= m) kept.max(worseFirst)._2 else Double.NegativeInfinity
        assert(java.lang.Double.compare(heap.floor, refFloor) == 0,
          s"floor ${heap.floor} != $refFloor")
      }
      assert(canon(heap.results) == canon(kept.toSeq), s"m=$m stream=$xs")
      assert(heap.scored == xs.length)
      // with a single sign of zero the rule is a total order: top-m of a sort
      if (!(xs.exists(x => java.lang.Double.doubleToRawLongBits(x._2) == 0L) &&
          xs.exists(x => java.lang.Double.doubleToRawLongBits(x._2) == Long.MinValue)))
        assert(canon(heap.results) == canon(xs.sorted(worseFirst).take(m)))
    }
  }
}
