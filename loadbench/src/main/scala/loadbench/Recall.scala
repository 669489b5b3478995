package loadbench

/** Exact nearest neighbours on the driver and recall against them. */
object Recall {

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Ids of the `k` vectors nearest to `q` by squared L2, ties broken by
    * the smaller id (the engine's ADC ranks with the same tie-break).
    */
  def exactTopK(q: Array[Double], ids: Array[Long], vecs: Array[Array[Double]],
      k: Int): Seq[Long] = {
    // a max-heap of the k best so far: its head is the worst kept
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < ids.length) {
      val d = sqDist(q, vecs(i))
      if (heap.size < k) heap.enqueue((d, ids(i)))
      else if (Ordering[(Double, Long)].lt((d, ids(i)), heap.head)) {
        heap.dequeue(); heap.enqueue((d, ids(i)))
      }
      i += 1
    }
    heap.toSeq.sorted.map(_._2)
  }

  /** |found ∩ truth| / |truth|; 1 for an empty truth. */
  def recall(found: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0
    else found.toSet.intersect(truth.toSet).size.toDouble / truth.size
}
