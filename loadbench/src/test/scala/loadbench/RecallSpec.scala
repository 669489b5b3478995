package loadbench

import org.scalatest.funsuite.AnyFunSuite

class RecallSpec extends AnyFunSuite {

  test("exact top-k matches a full sort, ties to the smaller id") {
    val r = new java.util.SplittableRandom(7)
    val ids = (0L until 300L).toArray
    val vecs = ids.map(_ => Array.fill(8)(r.nextDouble()))
    val q = Array.fill(8)(r.nextDouble())
    val brute = ids.zip(vecs).map { case (id, v) => (Recall.sqDist(q, v), id) }.sorted.take(10).map(_._2).toSeq
    assert(Recall.exactTopK(q, ids, vecs, 10) == brute)
    val same = Array(Array(1.0), Array(1.0), Array(1.0))
    assert(Recall.exactTopK(Array(0.0), Array(9L, 3L, 5L), same, 2) == Seq(3L, 5L))
  }

  test("recall at k is the found share of the exact neighbours") {
    assert(Recall.recall(Seq(1L, 2L, 3L, 4L), Seq(4L, 3L, 9L, 8L)) == 0.5)
    assert(Recall.recall(Nil, Seq(1L, 2L)) == 0.0)
    assert(Recall.recall(Seq(1L), Nil) == 1.0)
  }
}
