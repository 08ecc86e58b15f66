package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** HITS (hubs & authorities) over a directed edge table — the
  * query-dependent companion of [[PageRank]], and the natural
  * centrality for BIPARTITE graphs (suppliers→parts, users→items)
  * where PageRank's single score conflates the two roles.
  *
  * Fixed-round mutual recursion, L1-normalized each half-step so a
  * SQL oracle can mirror it term-for-term:
  * ```
  * h_0(u) = 1                                  (all nodes)
  * a_r(v) = Σ_{(u,v)∈E} h_{r-1}(u)  / Σ_v (·)  (authority update)
  * h_r(u) = Σ_{(u,v)∈E} a_r(v)      / Σ_u (·)  (hub update)
  * ```
  * Nodes without in-edges have authority 0; without out-edges, hub 0.
  * Normalization sums are float folds — engine-order-dependent in
  * their low bits, absorbed by the output rounding (the PageRank
  * acceptance: round(·, 8) + identical formula text).
  *
  * Scale shape (distributed path): per round two join+aggregate
  * pairs over the cached distinct edge set (edges ⋈ scores on one
  * endpoint, aggregate on the other); the normalizer attaches by
  * broadcast cross join of a scalar aggregate — no driver action
  * inside the loop; `localCheckpoint` per round cuts lineage exactly
  * like the CC loop. Below `localThreshold` edges the whole
  * iteration runs fused in ONE task over primitive arrays
  * ([[Bsp.index]]'s layout) — small graphs skip the ~10
  * per-round jobs entirely.
  */
object Hits {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("hub", DoubleType, nullable = false),
    StructField("auth", DoubleType, nullable = false)))

  /** @param edges directed edge table; duplicates are collapsed.
    * @return (id, hub, auth) per incident node, rounded to `scale`. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, scale: Int = 8,
      localThreshold: Long = 5_000_000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().persist()
    val nEdges = e.count()
    val raw = if (nEdges <= localThreshold) runFused(e, rounds)
      else runDistributed(e, rounds)
    raw.select(col("id"), round(col("hub"), scale).as("hub"),
      round(col("auth"), scale).as("auth"))
  }

  private def runFused(e: DataFrame, rounds: Int): DataFrame =
    e.coalesce(1).mapPartitions { it =>
      val sb = new scala.collection.mutable.ArrayBuilder.ofLong
      val db = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => sb += r.getLong(0); db += r.getLong(1) }
      val srcId = sb.result(); val dstId = db.result()
      val m = srcId.length
      if (m == 0) Iterator.empty
      else {
        val all = new Array[Long](2 * m)
        System.arraycopy(srcId, 0, all, 0, m)
        System.arraycopy(dstId, 0, all, m, m)
        java.util.Arrays.sort(all)
        var n = 0
        var i = 0
        while (i < all.length) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val ids = java.util.Arrays.copyOf(all, n)
        val src = new Array[Int](m)
        val dst = new Array[Int](m)
        i = 0
        while (i < m) {
          src(i) = java.util.Arrays.binarySearch(ids, srcId(i))
          dst(i) = java.util.Arrays.binarySearch(ids, dstId(i))
          i += 1
        }
        var h = Array.fill(n)(1.0)
        var a = new Array[Double](n)
        for (_ <- 1 to rounds) {
          a = new Array[Double](n)
          i = 0
          while (i < m) { a(dst(i)) += h(src(i)); i += 1 }
          val sa = a.sum
          i = 0
          while (i < n) { a(i) /= sa; i += 1 }
          h = new Array[Double](n)
          i = 0
          while (i < m) { h(src(i)) += a(dst(i)); i += 1 }
          val sh = h.sum
          i = 0
          while (i < n) { h(i) /= sh; i += 1 }
        }
        ids.iterator.zipWithIndex.map { case (id, j) =>
          Row(id, h(j), a(j))
        }
      }
    }(Encoders.row(outSchema))

  private def runDistributed(e: DataFrame, rounds: Int): DataFrame = {
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    var h = nodes.select(col("id"), lit(1.0).as("s"))
    var a: DataFrame = null
    for (_ <- 1 to rounds) {
      a = halfStep(e, nodes, h, col("src"), col("dst"))
      h = halfStep(e, nodes, a, col("dst"), col("src"))
    }
    nodes.unpersist()
    h.select(col("id"), col("s").as("hub"))
      .join(a.select(col("id").as("__i"), col("s").as("auth")),
        col("id") === col("__i"))
      .select(col("id"), col("hub"), col("auth"))
  }

  /** One normalized propagation: scores on `from` endpoints flow to
    * `to` endpoints. */
  private def halfStep(e: DataFrame, nodes: DataFrame, scores: DataFrame,
      from: org.apache.spark.sql.Column,
      to: org.apache.spark.sql.Column): DataFrame = {
    val raw = e.join(scores, from === col("id"))
      .groupBy(to.as("__n")).agg(sum(col("s")).as("v"))
      .persist() // two readers: the normalizer and the join below
    val tot = raw.agg(sum("v").as("t"))
    val out = nodes.select(col("id"))
      .join(raw, col("id") === col("__n"), "left")
      .crossJoin(broadcast(tot))
      .select(col("id"),
        (coalesce(col("v"), lit(0.0)) / col("t")).as("s"))
      .localCheckpoint() // eager — raw is consumed, release it now
    raw.unpersist()
    out
  }
}
