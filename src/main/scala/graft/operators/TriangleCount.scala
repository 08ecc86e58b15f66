package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-node triangle counting — the third member of the graph family
  * (with [[ConnectedComponents]] and [[PageRank]]): clustering
  * coefficient numerators, community-structure signals, spam/bot
  * detection features.
  *
  * Degree-ordered enumeration (Schank–Wagner / "node-iterator++"):
  * every edge is oriented from its lower- to its higher-(degree, id)
  * endpoint, wedges are built only at each triangle's LOWEST-rank
  * vertex over its two higher-rank neighbors, and the closing edge is
  * probed in the same oriented set. Each triangle is found exactly
  * once, and — the scale point — wedge fan-out at a hub is bounded by
  * its ORIENTED out-degree (≈ O(√m) after orientation), not its raw
  * degree: a celebrity node with 10M neighbors contributes almost no
  * wedges because nearly all its edges orient toward it. Everything is
  * equi-joins + one aggregate; no theta join anywhere.
  *
  * Like [[Dbscan.run]] and [[PageRank.run]], a deduplicated edge set
  * at or below `localThreshold` takes a fused single-TASK path: the
  * same degree-ordered algorithm on primitive arrays (CSR adjacency,
  * two-pointer closing-edge intersection), zero further shuffles.
  * Counts are exact integers, so the two paths are bit-identical
  * (spec-enforced), and the threshold bounds the task's transient
  * memory at ~24 B/edge (≈ 50 MB at the 2M default). The default is
  * lower than PageRank's 5M because the fused work is the wedge
  * intersection — O(Σ_edges min-outdeg), up to O(m^1.5) on adversarial
  * graphs — not O(m) per pass.
  */
object TriangleCount {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_triangles", LongType, nullable = false)))

  /** (deg, id) lexicographic rank comparison — a total order because
    * ids are distinct. */
  private def rankLt(dA: Column, idA: Column, dB: Column, idB: Column) =
    dA < dB || (dA === dB && idA < idB)

  /** Per-node triangle participation counts.
    * @param edges undirected edge table; either or both orientations
    *   per edge accepted, self-loops and duplicates dropped.
    * @param localThreshold max deduplicated edge count for the fused
    *   single-task path; 0 forces the distributed pipeline.
    * @return (id, n_triangles) for every node incident to an edge —
    *   nodes in no triangle report 0. */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String,
      localThreshold: Long = 2_000_000L): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    // canonical undirected edges u < v (drops self-loops + duplicates);
    // the path probe materializes it either way, so cache it for the
    // downstream branches (released with the plan by the
    // ContextCleaner, as in Dbscan.run)
    val ce = edges.select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") < col("v")).distinct().persist()
    if (ce.count() <= localThreshold) perNodeFused(ce)
    else perNodeDistributed(ce)
  }

  /** Small-graph path: the whole count runs in ONE task over the
    * (already shuffled-distinct, cached) canonical edge list. */
  private def perNodeFused(ce: DataFrame): DataFrame =
    ce.coalesce(1).mapPartitions { it =>
      // primitive columns only (same discipline as PageRank.fused)
      val ub = new scala.collection.mutable.ArrayBuilder.ofLong
      val vb = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => ub += r.getLong(0); vb += r.getLong(1) }
      val uId = ub.result(); val vId = vb.result()
      val m = uId.length
      if (m == 0) Iterator.empty
      else {
        // node table: sort + in-place dedup; id → index by binary search
        val all = new Array[Long](2 * m)
        System.arraycopy(uId, 0, all, 0, m)
        System.arraycopy(vId, 0, all, m, m)
        java.util.Arrays.sort(all)
        var n = 0
        var i = 0
        while (i < all.length) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val ids = java.util.Arrays.copyOf(all, n)
        val eu = new Array[Int](m)
        val ev = new Array[Int](m)
        i = 0
        while (i < m) {
          eu(i) = java.util.Arrays.binarySearch(ids, uId(i))
          ev(i) = java.util.Arrays.binarySearch(ids, vId(i))
          i += 1
        }
        val deg = new Array[Int](n)
        i = 0; while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
        // rank(a) < rank(b) by (deg, id); ids is sorted, so the id
        // tie-break is the index itself
        @inline def lt(a: Int, b: Int): Boolean =
          deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
        // orient lo→hi and build CSR out-adjacency; out-lists end up
        // sorted by packed (lo, hi) edge order, which two-pointer
        // intersection needs
        val lo = new Array[Int](m)
        val hi = new Array[Int](m)
        i = 0
        while (i < m) {
          if (lt(eu(i), ev(i))) { lo(i) = eu(i); hi(i) = ev(i) }
          else { lo(i) = ev(i); hi(i) = eu(i) }
          i += 1
        }
        val outDeg = new Array[Int](n)
        i = 0; while (i < m) { outDeg(lo(i)) += 1; i += 1 }
        val start = new Array[Int](n + 1)
        i = 0; while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
        val adj = new Array[Int](m)
        val fill = java.util.Arrays.copyOf(start, n)
        i = 0
        while (i < m) {
          adj(fill(lo(i))) = hi(i); fill(lo(i)) += 1; i += 1
        }
        i = 0
        while (i < n) { // sort each out-list for the merge intersection
          java.util.Arrays.sort(adj, start(i), start(i + 1)); i += 1
        }
        // edge-iterator: for each oriented edge a→b, every
        // c ∈ out(a) ∩ out(b) closes the triangle {a,b,c} with
        // rank(a) < rank(b) < rank(c) — found exactly once, at its
        // lowest-rank edge
        val tri = new Array[Long](n)
        i = 0
        while (i < m) {
          val a = lo(i); val b = hi(i)
          var p = start(a); var q = start(b)
          val pe = start(a + 1); val qe = start(b + 1)
          while (p < pe && q < qe) {
            val x = adj(p); val y = adj(q)
            if (x == y) { tri(a) += 1; tri(b) += 1; tri(x) += 1; p += 1; q += 1 }
            else if (x < y) p += 1
            else q += 1
          }
          i += 1
        }
        ids.iterator.zipWithIndex.map { case (id, j) => Row(id, tri(j)) }
      }
    }(Encoders.row(outSchema))

  /** Cluster-scale path: orientation join + wedge equi-join + closing
    * probe, all shuffled on edge keys. */
  private def perNodeDistributed(ce: DataFrame): DataFrame = {
    val deg = ce.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient lo→hi by (deg, id); carry the hi endpoint's rank for the
    // wedge ordering below. Persisted: three plan branches below (both
    // wedge sides + the closing-edge probe) reference this subtree, and
    // without the cache the orientation join tree executes three times
    // (cache released with the plan by the ContextCleaner, as in
    // Dbscan.run).
    val o = ce
      .join(deg.withColumnsRenamed(Map("id" -> "u", "deg" -> "du")), "u")
      .join(deg.withColumnsRenamed(Map("id" -> "v", "deg" -> "dv")), "v")
      .select(
        when(rankLt(col("du"), col("u"), col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("lo"),
        when(rankLt(col("du"), col("u"), col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("hi"),
        when(rankLt(col("du"), col("u"), col("dv"), col("v")),
          col("dv")).otherwise(col("du")).as("dhi"))
      .persist()
    // wedges at the lowest-rank vertex, neighbors ordered by rank; the
    // closing edge hi1→hi2 is oriented that way BECAUSE rank(hi1) <
    // rank(hi2) — one equi-join probe, no orientation guessing
    val e1 = o.select(col("lo"), col("hi").as("hi1"), col("dhi").as("d1"))
    val e2 = o.select(col("lo"), col("hi").as("hi2"), col("dhi").as("d2"))
    val tri = e1.join(e2, Seq("lo"))
      .filter(rankLt(col("d1"), col("hi1"), col("d2"), col("hi2")))
      .join(o.select(col("lo").as("hi1"), col("hi").as("hi2")),
        Seq("hi1", "hi2"))
      .select(col("lo"), col("hi1"), col("hi2"))
    val counts = tri
      .select(explode(array(col("lo"), col("hi1"), col("hi2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    deg.select("id").join(counts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }
}
