package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class SortedOpsSpec extends AnyFunSuite {

  private def cases(seed: Int, n: Int): Seq[(Array[Int], Array[Int])] = {
    val rnd = new Random(seed)
    (0 until n).map { _ =>
      def arr = Array.fill(rnd.nextInt(40))(rnd.nextInt(100) - 50).distinct.sorted
      (arr, arr)
    }
  }

  test("union matches Set semantics") {
    for ((a, b) <- cases(2, 200)) {
      val u = SortedOps.union(a, b)
      assert(u.toSet == a.toSet.union(b.toSet))
      assert(u.toSeq == u.toSeq.distinct.sorted)
    }
  }

  test("works with Capture ordering") {
    val a = Array(Capture(10, "a", ""), Capture(10, "b", ""), Capture(14, "a", "b")).sorted
    val b = Array(Capture(10, "b", ""), Capture(12, "z", ""), Capture(14, "a", "b")).sorted
    assert(SortedOps.union(a, b).toSeq ==
      Seq(Capture(10, "a", ""), Capture(10, "b", ""), Capture(12, "z", ""), Capture(14, "a", "b")))
  }
}
