package perfbench

/** Plain-Scala reference computations the checks compare the engine
  * against. None of them calls into `graft`.
  */
object Oracles {
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Ids of the `k` corpus vectors most cosine-similar to `q`
    * (ties to the lower id), by exhaustive scan.
    */
  def topK(q: Array[Double], ids: Array[Long], vecs: Array[Array[Double]],
           k: Int): Seq[Long] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    var i = 0
    while (i < ids.length) {
      heap.enqueue((cosine(q, vecs(i)), ids(i)))
      if (heap.size > k) heap.dequeue()
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2)
  }

  /** Index of the nearest centroid by squared L2; ties to the lower index. */
  def nearest(x: Array[Double], cents: Array[Array[Double]]): (Int, Double) = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDist(x, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }
}
