package loadbench

import org.scalatest.funsuite.AnyFunSuite

class TableModelSpec extends AnyFunSuite {

  private def model(rows: (Long, Long, Long)*): TableModel = {
    val m = new TableModel(groups = 4)
    m.load(rows.map { case (k, q, p) => KeyedRow(k, q, p) })
    m
  }

  test("point reads and range aggregates follow appends and merges") {
    val m = model((1, 10, 100), (2, 20, 200), (5, 50, 500))
    m.append(Seq(KeyedRow(7, 70, 700)))
    m.merge(Seq(Change(2, 21, 210, "U"), Change(5, 50, 500, "D"), Change(6, 60, 600, "I")))
    assert(m.point(2).contains((21L, 210L)))
    assert(m.point(5).isEmpty)
    assert(m.point(6).contains((60L, 600L)))
    assert(m.size == 4)
    assert(m.range(2, 6) == ((2L, 81L, 810L)))
    assert(m.range(100, 200) == ((0L, 0L, 0L)))
    assertThrows[IllegalArgumentException](m.append(Seq(KeyedRow(1, 1, 1))))
  }

  test("the delta is each touched key's net change since the last call") {
    val m = model((1, 10, 100), (2, 20, 200))
    assert(m.takeDelta().isEmpty)
    m.merge(Seq(Change(1, 11, 110, "U"), Change(2, 20, 200, "D"), Change(3, 30, 300, "I")))
    m.append(Seq(KeyedRow(4, 40, 400)))
    m.merge(Seq(Change(3, 30, 300, "D"), Change(1, 10, 100, "U")))
    // key 1 returned to its old value and key 3 came and went: no net change
    assert(m.takeDelta() == Map(
      2L -> ((Some((20L, 200L)), None)),
      4L -> ((None, Some((40L, 400L))))))
    assert(m.takeDelta().isEmpty)
  }

  test("the view tracks count and quantity sum per key group") {
    val m = model((1, 10, 0), (5, 50, 0), (2, 20, 0))
    assert(m.view == Map(1L -> ((2L, 60L)), 2L -> ((1L, 20L))))
    m.merge(Seq(Change(2, 0, 0, "D"), Change(9, 90, 0, "I")))
    assert(m.view == Map(1L -> ((3L, 150L))))
  }

  test("a change feed folds to first before-image and last after-image") {
    val feed = Seq(
      CdfRow(1, 11, 110, "update_postimage", 3), CdfRow(1, 10, 100, "update_preimage", 3),
      CdfRow(1, 12, 120, "update_postimage", 4), CdfRow(1, 11, 110, "update_preimage", 4),
      CdfRow(2, 20, 200, "insert", 3), CdfRow(2, 20, 200, "delete", 4),
      CdfRow(3, 30, 300, "delete", 4), CdfRow(4, 40, 400, "insert", 4))
    assert(TableModel.foldFeed(feed) == Map(
      1L -> ((Some((10L, 100L)), Some((12L, 120L)))),
      3L -> ((Some((30L, 300L)), None)),
      4L -> ((None, Some((40L, 400L))))))
  }

  test("feed images pair pre- and post-images per key and version") {
    val feed = Seq(CdfRow(5, 50, 0, "update_preimage", 2), CdfRow(5, 55, 0, "update_postimage", 2),
      CdfRow(6, 60, 0, "insert", 2), CdfRow(7, 70, 0, "delete", 3))
    assert(TableModel.images(feed, groups = 4) == Seq(
      Image(5, 2, Some(1L), Some(50L), Some(1L), Some(55L)),
      Image(6, 2, None, None, Some(2L), Some(60L)),
      Image(7, 3, Some(3L), Some(70L), None, None)))
  }

  test("the model agrees with a naive map under random changelogs") {
    val r = new java.util.SplittableRandom(42)
    val m = model((0 until 200).map(k => (k.toLong, k.toLong, 2L * k)): _*)
    val naive = scala.collection.mutable.Map((0 until 200).map(k => k.toLong -> ((k.toLong, 2L * k))): _*)
    var next = 200L
    (0 until 50).foreach { _ =>
      val live = naive.keys.toSeq.sorted
      val touched = scala.collection.mutable.LinkedHashSet[Long]()
      while (touched.size < 6) touched += live(r.nextInt(live.size))
      val (upd, del) = touched.toSeq.splitAt(3)
      val changes = upd.map(k => Change(k, r.nextLong(100), r.nextLong(100), "U")) ++
        del.map(k => Change(k, 0, 0, "D")) :+ Change(next, 1, 1, "I")
      next += 1
      m.merge(changes)
      changes.foreach(c => if (c.op == "D") naive.remove(c.key) else naive(c.key) = (c.qty, c.price))
      val lo = r.nextLong(next)
      val in = naive.filter { case (k, _) => k >= lo && k <= lo + 40 }.values
      assert(m.range(lo, lo + 40) == ((in.size.toLong, in.map(_._1).sum, in.map(_._2).sum)))
    }
    assert(m.size == naive.size)
    assert(m.view == naive.groupBy { case (k, _) => k % 4 }
      .map { case (g, kv) => g -> ((kv.size.toLong, kv.values.map(_._1).sum)) })
  }
}
