package loadbench

import scala.collection.mutable

/** One keyed row of the benchmark table: (l_orderkey, qty_i, price_i). */
final case class KeyedRow(key: Long, qty: Long, price: Long) {
  def value: (Long, Long) = (qty, price)
}

/** One changelog entry of a merge: op is "I", "U" or "D". */
final case class Change(key: Long, qty: Long, price: Long, op: String)

/** One row of `SnapshotStore.readChangesBetween`. */
final case class CdfRow(key: Long, qty: Long, price: Long, changeType: String, version: Long)

/** One change image as `MaterializedView.refreshSumCount` consumes it:
  * the before and after (group, value) of a key at commit `seq`.
  */
final case class Image(key: Long, seq: Long, bG: Option[Long], bV: Option[Long],
    aG: Option[Long], aV: Option[Long])

/** The driver-side model of the keyed table. It predicts every point
  * read, range aggregate, change-feed delta, metadata count and the
  * SUM/COUNT materialized view (group = key mod `groups`, value = qty).
  */
final class TableModel(val groups: Long) {
  private val rows = new java.util.TreeMap[java.lang.Long, (Long, Long)]()
  private val mv = mutable.Map[Long, (Long, Long)]() // group -> (n, s)
  private val before = mutable.LinkedHashMap[Long, Option[(Long, Long)]]()

  def size: Long = rows.size.toLong
  def point(k: Long): Option[(Long, Long)] = Option(rows.get(k))
  def contains(k: Long): Boolean = rows.containsKey(k)
  def maxKey: Long = if (rows.isEmpty) -1L else rows.lastKey

  /** Keys in ascending order (a copy, for seeded picks). */
  def keys: Array[Long] = {
    val out = new Array[Long](rows.size)
    var i = 0
    val it = rows.keySet.iterator
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** (count, sum qty, sum price) over keys in [lo, hi]. */
  def range(lo: Long, hi: Long): (Long, Long, Long) = {
    var n, q, p = 0L
    val it = rows.subMap(lo, true, hi, true).values.iterator
    while (it.hasNext) { val (a, b) = it.next(); n += 1; q += a; p += b }
    (n, q, p)
  }

  def group(k: Long): Long = math.floorMod(k, groups)

  /** The view's expected (group -> (count, sum qty)), empty groups dropped. */
  def view: Map[Long, (Long, Long)] = mv.filter(_._2._1 > 0).toMap

  private def touch(k: Long): Unit =
    if (!before.contains(k)) before(k) = point(k)

  private def put(k: Long, v: (Long, Long)): Unit = {
    touch(k)
    remove0(k)
    rows.put(k, v)
    val g = group(k)
    val (n, s) = mv.getOrElse(g, (0L, 0L))
    mv(g) = (n + 1, s + v._1)
  }

  private def remove0(k: Long): Unit = Option(rows.remove(k)).foreach { old =>
    val g = group(k)
    val (n, s) = mv(g)
    mv(g) = (n - 1, s - old._1)
  }

  def load(base: Iterable[KeyedRow]): Unit = {
    base.foreach(r => put(r.key, r.value))
    before.clear()
  }

  def append(batch: Seq[KeyedRow]): Unit = batch.foreach { r =>
    require(!contains(r.key), s"append of existing key ${r.key}")
    put(r.key, r.value)
  }

  /** Apply a changelog with one change per key (the store's contract). */
  def merge(changes: Seq[Change]): Unit = {
    require(changes.map(_.key).distinct.size == changes.size,
      "one change per key per merge")
    changes.foreach { c =>
      if (c.op == "D") { touch(c.key); remove0(c.key) }
      else put(c.key, (c.qty, c.price))
    }
  }

  /** Net change per key since the last call, no-op keys dropped. */
  def takeDelta(): Map[Long, (Option[(Long, Long)], Option[(Long, Long)])] = {
    val out = before.iterator.map { case (k, b) => k -> (b, point(k)) }
      .filter { case (_, (b, a)) => b != a }.toMap
    before.clear()
    out
  }
}

object TableModel {

  /** Fold a change feed to each key's net (first before-image, last
    * after-image), dropping keys whose net is no change.
    */
  def foldFeed(feed: Seq[CdfRow]): Map[Long, (Option[(Long, Long)], Option[(Long, Long)])] =
    feed.groupBy(_.key).map { case (k, rs) =>
      val byV = rs.sortBy(r => (r.version, order(r.changeType)))
      val first = byV.head
      val last = byV.last
      val b = first.changeType match {
        case "insert" | "update_postimage" => None
        case _ => Some((first.qty, first.price))
      }
      val a = last.changeType match {
        case "delete" | "update_preimage" => None
        case _ => Some((last.qty, last.price))
      }
      k -> (b, a)
    }.filter { case (_, (b, a)) => b != a }

  private def order(t: String): Int = t match {
    case "delete" | "update_preimage" => 0
    case _ => 1
  }

  /** The change feed as view images, one per (key, commit version). */
  def images(feed: Seq[CdfRow], groups: Long): Seq[Image] =
    feed.groupBy(r => (r.key, r.version)).toSeq.map { case ((k, v), rs) =>
      val g = math.floorMod(k, groups)
      val pre = rs.find(r => r.changeType == "delete" || r.changeType == "update_preimage")
      val post = rs.find(r => r.changeType == "insert" || r.changeType == "update_postimage")
      Image(k, v, pre.map(_ => g), pre.map(_.qty), post.map(_ => g), post.map(_.qty))
    }.sortBy(i => (i.key, i.seq))
}
