package perfbench

/** Sequential DBSCAN in the benchmark's own code, with the engine's
  * documented label semantics: a point's ε-neighbourhood includes itself
  * and the core test is `>= minPts`; squared distance is a left-to-right
  * double fold compared with ε²; a component is labelled by its minimum
  * core id; a border point joins the minimum label among its core
  * neighbours; components with fewer than `minClusterSize` members are
  * noise; cluster ids are dense from 1 in label order; noise is 0.
  *
  * Neighbours come from a sweep over the points sorted by dim 0, so the
  * oracle shares no code with either execution path of the engine. */
object Oracle {
  def labels(points: Array[Array[Float]], eps: Double, minPts: Int,
      minClusterSize: Int = 2): Array[Int] = {
    val n = points.length
    val eps2 = eps * eps
    val order = (0 until n).sortBy(i => points(i)(0)).toArray
    val nbrs = Array.fill(n)(Array.newBuilder[Int])
    var a = 0
    while (a < n) {
      val i = order(a)
      var b = a + 1
      // a pair further apart than ε in dim 0 is further apart than ε; the
      // margin only lets the exact test below see a few more pairs
      while (b < n && points(order(b))(0).toDouble - points(i)(0) <= eps * 1.000001) {
        val j = order(b)
        var d2 = 0.0
        var k = 0
        while (k < points(i).length) {
          val d = points(i)(k).toDouble - points(j)(k).toDouble
          d2 += d * d
          k += 1
        }
        if (d2 <= eps2) { nbrs(i) += j; nbrs(j) += i }
        b += 1
      }
      a += 1
    }
    val adj = nbrs.map(_.result())
    val core = adj.map(_.length + 1 >= minPts)

    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for (i <- 0 until n if core(i); j <- adj(i) if core(j)) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    // ids are row numbers, so the minimum core id of a component is the
    // minimum index among its cores, which the union above keeps as root
    val label = Array.tabulate(n) { i =>
      if (core(i)) find(i)
      else adj(i).filter(core).map(find).minOption.getOrElse(-1)
    }
    val sizes = label.filter(_ >= 0).groupMapReduce(identity)(_ => 1)(_ + _)
    val dense = sizes.filter(_._2 >= minClusterSize).keys.toArray.sorted
      .zipWithIndex.map { case (l, k) => l -> (k + 1) }.toMap
    label.map(l => if (l < 0) 0 else dense.getOrElse(l, 0))
  }
}
