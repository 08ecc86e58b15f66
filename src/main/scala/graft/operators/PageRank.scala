package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** PageRank over an edge table — graph centrality as an iterative
  * bulk-synchronous loop, the Spark twin of the reference's interleaved
  * merge rounds (`dbscan.cpp:847-1012`).
  *
  * Simple formulation: `r = (1-d)/N + d * Σ_in r(src)/outdeg(src)`,
  * uniform init 1/N, fixed iteration count. Dangling-node mass (nodes
  * with no out-edges) is dropped, not redistributed — states the common
  * simplified variant explicitly so a SQL oracle can mirror it
  * term-for-term.
  *
  * Scale: the distributed path runs in the Pregel shape of [[Bsp]]. The
  * distinct edges are shuffled once into one CSR block per partition
  * (partition count from the edge count, capped at `defaultParallelism`),
  * with the message routes fixed at the same time; ranks are one
  * `Array[Double]` per partition. Each round is one narrow pass that
  * pre-sums contributions per target partition plus one shuffle of those
  * arrays — no join, no aggregate, no checkpoint, no action. The whole
  * iteration is one Spark job of about `iterations + 1` stages, run at
  * the caller's sink; ranks never leave executors. For a fixed partition
  * count the ranks are bit-identical run to run. Iteration count is the
  * latency knob (10 ≈ the usual convergence budget).
  *
  * Like [[Dbscan.run]], a deduplicated edge set at or below
  * `localThreshold` takes a fused single-TASK path instead: the
  * iteration loop runs inside one `mapPartitions` over the
  * already-distinct edges — primitive-array adjacency ([[Bsp.index]]),
  * zero further shuffles. Both paths implement the same formula; results
  * agree to float sum-order (spec-enforced), and the threshold bounds the
  * task's transient memory at ~56 B/edge (≈ 280 MB at the 5M default).
  */
object PageRank {

  private val outSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rank", DoubleType, nullable = false)))

  /** @param edges directed edge table; duplicates are collapsed.
    * @param localThreshold max deduplicated edge count for the fused
    *   single-task path; 0 forces the distributed loop.
    * @return (id, rank) for every node incident to an edge. The fused
    *   path's frame still reads the cached distinct edge set; the
    *   distributed path's frame holds only its persisted CSR blocks (the
    *   edge cache is released once they are built). The ContextCleaner
    *   drops either with the frame. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      localThreshold: Long = 5_000_000L): DataFrame = {
    val (e, nEdges) = prepEdges(edges, srcCol, dstCol, iterations, damping)
    if (nEdges <= localThreshold) fused(e, None, iterations, damping)
    else distributed(e, nEdges, None, iterations, damping)
  }

  /** Shared prolog for [[run]]/[[personalized]]: validate parameters,
    * normalize to a cached distinct (src, dst) long edge set, and
    * materialize its count for the fused-vs-distributed dispatch. */
  private def prepEdges(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double): (DataFrame, Long) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().persist()
    (e, e.count())
  }

  /** Initial rank and per-round teleport term of a node: uniform over all
    * `n` nodes ([[run]]), or over the `nS` seed nodes ([[personalized]];
    * an empty effective seed set teleports nowhere, so every rank is 0). */
  private final case class Teleport(seeded: Boolean, n: Long, nS: Long,
      damping: Double) {
    private val seedMass = if (nS == 0) 0.0 else 1.0 / nS
    def init(seed: Boolean): Double =
      if (!seeded) 1.0 / n else if (seed) seedMass else 0.0
    def base(seed: Boolean): Double =
      if (!seeded) (1.0 - damping) / n
      else if (seed) (1.0 - damping) * seedMass else 0.0
  }

  /** Small-graph path: the whole iteration runs in ONE task over the
    * (already shuffled-distinct, cached) edge list. `seedIds`: the sorted
    * seed set of [[personalized]]. */
  private def fused(e: DataFrame, seedIds: Option[Array[Long]],
      iterations: Int, damping: Double): DataFrame =
    e.coalesce(1).mapPartitions { it =>
      val (srcId, dstId) = Bsp.edgeArrays(it)
      val m = srcId.length
      if (m == 0) Iterator.empty
      else {
        val g = Bsp.index(srcId, dstId)
        val (ids, src, dst) = (g.ids, g.ai, g.bi)
        val n = ids.length
        val isSeed = seedIds.fold(new Array[Boolean](n))(s =>
          ids.map(java.util.Arrays.binarySearch(s, _) >= 0))
        val tp = Teleport(seedIds.isDefined, n, isSeed.count(identity),
          damping)
        val deg = new Array[Double](n)
        src.foreach(s => deg(s) += 1.0)
        val base = isSeed.map(tp.base)
        var rank = isSeed.map(tp.init)
        for (_ <- 1 to iterations) {
          val in = new Array[Double](n)
          var i = 0
          while (i < m) {
            in(dst(i)) += rank(src(i)) / deg(src(i)); i += 1
          }
          rank = Array.tabulate(n)(v => base(v) + damping * in(v))
        }
        ids.iterator.zipWithIndex.map { case (id, j) => Row(id, rank(j)) }
      }
    }(Encoders.row(outSchema))

  /** Cluster-scale path: [[Bsp]] rounds over CSR blocks. The edge cache
    * is released once the blocks are built; `seeds` joins the graph once,
    * at build time. */
  private def distributed(e: DataFrame, nEdges: Long,
      seeds: Option[DataFrame], iterations: Int,
      damping: Double): DataFrame = {
    val spark = e.sparkSession
    val g = Bsp.build(e, seeds,
      Bsp.partitions(nEdges, spark.sparkContext.defaultParallelism),
      "pagerank: build graph")
    e.unpersist()
    val tp = Teleport(seeds.isDefined, g.nodes, g.marked, damping)
    val rank = g.rounds(g.blocks.map(_.marked.map(tp.init)), iterations) {
      (b, r) => Array.tabulate(b.size) { v =>
        val d = b.outDegree(v)
        if (d == 0) 0.0 else r(v) / d
      }
    } { (b, in) =>
      Array.tabulate(b.size)(v => tp.base(b.marked(v)) + damping * in(v))
    }
    spark.createDataFrame(g.rows(rank), outSchema)
  }

  /** Personalized PageRank: the teleport vector concentrates on a seed
    * set instead of spreading uniformly — "importance relative to THESE
    * nodes" (a user's neighborhood, a labeled cohort, a topic's seed
    * pages), the standard similarity/recommendation variant:
    * `r = (1−d)·1{v∈S}/|S| + d · Σ_in r(src)/outdeg(src)`, r₀ = the
    * teleport vector. Seeds outside the graph contribute nothing (|S|
    * counts seeds incident to an edge); NULL seeds are ignored; dangling
    * mass is dropped, matching [[run]]'s stated simplification.
    *
    * Scale shape is [[run]]'s, with per-node init and teleport terms:
    * the distributed path shuffles the seed ids into the graph build, so
    * each block carries its nodes' seed flags and the rounds are
    * [[run]]'s exactly — one shuffle each, no action. The fused
    * small-graph path collects the seed ids into the one task — bounded
    * by the node count, which the threshold already bounds. The returned
    * frame holds the caches [[run]]'s does.
    *
    * @param seeds one-column table of seed node ids.
    * @return (id, rank) for every node incident to an edge. */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int,
      damping: Double = 0.85,
      localThreshold: Long = 5_000_000L): DataFrame = {
    val (e, nEdges) = prepEdges(edges, srcCol, dstCol, iterations, damping)
    val sd = seeds.select(col(seedCol).cast("long").as("sid"))
      .where(col("sid").isNotNull).distinct()
    if (nEdges <= localThreshold) {
      // the graph fits one task, so the seed set (⊆ its nodes that
      // matter) is driver-safe by the same bound
      val seedIds = sd.collect().map(_.getLong(0))
      java.util.Arrays.sort(seedIds)
      fused(e, Some(seedIds), iterations, damping)
    } else distributed(e, nEdges, Some(sd), iterations, damping)
  }
}
