package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuilder

/** Bulk-synchronous graph rounds in the GraphX Pregel shape — the Spark
  * twin of the reference's rounds of point-to-point exchange
  * (`dbscan.cpp:847-1012`).
  *
  * The edges are shuffled ONCE into one CSR [[Block]] per partition, and
  * the message routes are fixed at the same time. A round is then a
  * narrow `zipPartitions` that pre-sums each partition's out-messages into
  * one `Array[Double]` per target partition, plus a single shuffle keyed
  * by the target partition id. Nothing in a round is an action, so N
  * rounds run as one job of N shuffle stages plus the caller's sink; the
  * per-round Spark job of a DataFrame loop (join, aggregate, checkpoint)
  * is gone. State is one primitive array per partition, aligned with its
  * block.
  *
  * Determinism: a block's edges are sorted by (source, destination) and a
  * receiver adds its messages in source-partition order, so for a fixed
  * partition count every round's sums are bit-identical run to run.
  */
object Bsp {

  /** Node index of an edge list: `ids` holds the sorted distinct ids of
    * `a ∪ b`, and `ai(i)` / `bi(i)` the position of `a(i)` / `b(i)` in it. */
  final case class Index(ids: Array[Long], ai: Array[Int], bi: Array[Int])

  /** The one node-index builder of the graph kernels: sort and dedup the
    * ids, then resolve each endpoint by binary search (primitive arrays,
    * never a boxed map). */
  def index(a: Array[Long], b: Array[Long]): Index = {
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    val ids = sortedDistinct(all)
    Index(ids, positions(ids, a), positions(ids, b))
  }

  /** Sorts `xs` in place and returns its distinct values. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (n == 0 || xs(n - 1) != xs(i)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, n)
  }

  private def positions(ids: Array[Long], xs: Array[Long]): Array[Int] = {
    val out = new Array[Int](xs.length)
    var i = 0
    while (i < xs.length) {
      out(i) = java.util.Arrays.binarySearch(ids, xs(i)); i += 1
    }
    out
  }

  /** (src, dst) rows of two long columns as two primitive arrays — at the
    * fused kernels' 5M-edge thresholds a boxed tuple costs hundreds of
    * bytes per edge. */
  def edgeArrays(rows: Iterator[Row]): (Array[Long], Array[Long]) = {
    val sb = new ArrayBuilder.ofLong
    val db = new ArrayBuilder.ofLong
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1), s"null node id in edge $r")
      sb += r.getLong(0); db += r.getLong(1)
    }
    (sb.result(), db.result())
  }

  /** Partition that owns node `v`. The id is mixed first, so strided ids
    * (all multiples of the partition count, say) still spread out. */
  private def owner(v: Long, parts: Int): Int =
    java.lang.Math.floorMod(scala.util.hashing.byteswap64(v), parts.toLong)
      .toInt

  /** Edges per partition below which a graph takes fewer partitions than
    * the cluster has cores: a round costs one task per partition per
    * stage, and a near-empty task costs as much as a full one. */
  val EdgesPerPartition = 4096L

  /** Partition count for `nEdges` distinct edges: one per
    * [[EdgesPerPartition]] edges, at least one, at most
    * `defaultParallelism`. */
  def partitions(nEdges: Long, defaultParallelism: Int): Int =
    math.max(1L, math.min(defaultParallelism.toLong,
      (nEdges + EdgesPerPartition - 1) / EdgesPerPartition)).toInt

  /** Rounds between lineage cuts in [[Graph.rounds]]. Spark walks a job's
    * lineage recursively after it runs, and an uncut loop overflowed the
    * default thread stack at 500 rounds (240 ran). */
  val CutEvery = 100

  /** One partition of a [[Graph]].
    *
    * @param part  this block's partition index
    * @param ids   sorted ids of the nodes this partition owns, sinks
    *   included
    * @param offs  the out-edges of node `v` are `offs(v) until offs(v + 1)`
    * @param to    edge `k`'s message goes to partition `to(k)` ...
    * @param at    ... into its slot `at(k)`
    * @param slots slot count of the message to each partition
    * @param from  `from(s)(j)`: the node that slot `j` of partition `s`'s
    *   message adds into
    * @param marked per-node flag: the node was listed in the build's marks
    */
  final class Block(val part: Int, val ids: Array[Long],
      val offs: Array[Int], val to: Array[Int], val at: Array[Int],
      val slots: Array[Int], val from: Array[Array[Int]],
      val marked: Array[Boolean]) extends Serializable {
    def size: Int = ids.length
    def outDegree(v: Int): Int = offs(v + 1) - offs(v)
  }

  /** What the build shuffle carries to one partition from one input
    * partition: edges it must know (as source or destination owner) and
    * ids to mark. */
  private final case class Chunk(src: Array[Long], dst: Array[Long],
      marks: Array[Long])

  /** A partitioned graph, persisted and materialized.
    * @param nodes  distinct node count
    * @param marked marked node count (marks outside the graph not
    *   counted) */
  final class Graph(val blocks: RDD[Block], val nodes: Long,
      val marked: Long) {

    /** `n` rounds from `state`, one array per block (`blocks.map`). In a
      * round every node `v` sends `send(block, state)(v)` along each
      * out-edge; a node's inbox is the sum of what it received; the new
      * state is `update(block, inbox)`.
      * Lazy up to [[CutEvery]] rounds: no action runs. Longer loops
      * checkpoint the state locally (one action) every [[CutEvery]]
      * rounds, and the returned state then also holds those
      * checkpoints. */
    def rounds(state: RDD[Array[Double]], n: Int)(
        send: (Block, Array[Double]) => Array[Double])(
        update: (Block, Array[Double]) => Array[Double])
        : RDD[Array[Double]] = {
      var s = state
      for (i <- 1 to n) {
        s = round(s, send, update)
        if (i % CutEvery == 0 && i < n) {
          s = s.localCheckpoint()
          ConnectedComponents.withJobDesc(s.sparkContext,
            s"bsp: checkpoint round $i")(s.count())
        }
      }
      s
    }

    private def round(state: RDD[Array[Double]],
        send: (Block, Array[Double]) => Array[Double],
        update: (Block, Array[Double]) => Array[Double])
        : RDD[Array[Double]] = {
      val parts = blocks.getNumPartitions
      val msgs = blocks.zipPartitions(state) { (bs, xs) =>
        val b = bs.next()
        val out = send(b, xs.next())
        val box = b.slots.map(new Array[Double](_))
        var v = 0
        while (v < b.size) {
          val x = out(v)
          var k = b.offs(v)
          while (k < b.offs(v + 1)) { box(b.to(k))(b.at(k)) += x; k += 1 }
          v += 1
        }
        box.indices.iterator.filter(box(_).nonEmpty)
          .map(t => (t, (b.part, box(t))))
      }.partitionBy(new HashPartitioner(parts)) // Int key t → partition t
      blocks.zipPartitions(msgs) { (bs, ms) =>
        val b = bs.next()
        val bySrc = new Array[Array[Double]](parts)
        ms.foreach { case (_, (s, m)) => bySrc(s) = m }
        val in = new Array[Double](b.size)
        var s = 0
        while (s < parts) {
          val m = bySrc(s)
          if (m != null) {
            val into = b.from(s)
            var j = 0
            while (j < m.length) { in(into(j)) += m(j); j += 1 }
          }
          s += 1
        }
        Iterator.single(update(b, in))
      }
    }

    /** (id, value) rows of a state. */
    def rows(state: RDD[Array[Double]]): RDD[Row] =
      blocks.zipPartitions(state) { (bs, xs) =>
        val b = bs.next()
        val x = xs.next()
        b.ids.indices.iterator.map(v => Row(b.ids(v), x(v)))
      }
  }

  /** Shuffle a distinct (src, dst) long edge table into `parts` blocks,
    * flag the nodes listed in the one-column non-null long table `marks`,
    * then persist the blocks and materialize them with one action
    * labelled `desc`. Nothing else stays cached: the edge table may be
    * released once this returns. */
  def build(edges: DataFrame, marks: Option[DataFrame], parts: Int,
      desc: String): Graph = {
    val edgeChunks = edges.rdd.mapPartitions { rows =>
      val (src, dst) = edgeArrays(rows)
      val sb = Array.fill(parts)(new ArrayBuilder.ofLong)
      val db = Array.fill(parts)(new ArrayBuilder.ofLong)
      var k = 0
      while (k < src.length) {
        val ps = owner(src(k), parts)
        val pd = owner(dst(k), parts)
        sb(ps) += src(k); db(ps) += dst(k)
        if (pd != ps) { sb(pd) += src(k); db(pd) += dst(k) }
        k += 1
      }
      (0 until parts).iterator.map(t =>
        (t, Chunk(sb(t).result(), db(t).result(), Array.emptyLongArray)))
    }
    val markChunks = marks.map(_.rdd.mapPartitions { rows =>
      val mb = Array.fill(parts)(new ArrayBuilder.ofLong)
      rows.foreach { r => val id = r.getLong(0); mb(owner(id, parts)) += id }
      (0 until parts).iterator.map(t => (t, Chunk(Array.emptyLongArray,
        Array.emptyLongArray, mb(t).result())))
    })
    val blocks = markChunks.fold(edgeChunks)(edgeChunks.union(_))
      .partitionBy(new HashPartitioner(parts))
      .mapPartitionsWithIndex((t, cs) => Iterator.single(block(t, parts,
        cs.map(_._2))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (nodes, marked) = ConnectedComponents.withJobDesc(edges, desc) {
      blocks.map(b => (b.size.toLong, b.marked.count(identity).toLong))
        .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    }
    new Graph(blocks, nodes, marked)
  }

  /** Block `t` from the chunks shuffled to it. */
  private def block(t: Int, parts: Int, chunks: Iterator[Chunk]): Block = {
    val outS, outD, inD, markB = new ArrayBuilder.ofLong
    val inFrom = new ArrayBuilder.ofInt
    chunks.foreach { c =>
      var k = 0
      while (k < c.src.length) {
        val ps = owner(c.src(k), parts)
        if (ps == t) { outS += c.src(k); outD += c.dst(k) }
        if (owner(c.dst(k), parts) == t) { inD += c.dst(k); inFrom += ps }
        k += 1
      }
      markB ++= c.marks
    }
    val (srcIds, dstIds) = (outS.result(), outD.result())
    val (inIds, inSrc) = (inD.result(), inFrom.result())
    val ix = index(srcIds, inIds)
    val n = ix.ids.length
    val m = srcIds.length
    // CSR: count out-edges per node, place them, sort each node's run
    val offs = new Array[Int](n + 1)
    ix.ai.foreach(v => offs(v + 1) += 1)
    var v = 0
    while (v < n) { offs(v + 1) += offs(v); v += 1 }
    val dst = new Array[Long](m)
    val cur = java.util.Arrays.copyOf(offs, n)
    var k = 0
    while (k < m) {
      val s = ix.ai(k); dst(cur(s)) = dstIds(k); cur(s) += 1; k += 1
    }
    v = 0
    while (v < n) { java.util.Arrays.sort(dst, offs(v), offs(v + 1)); v += 1 }
    // send routes: the slots of the message to partition p are the sorted
    // distinct destinations this block's edges have in p
    val to = dst.map(owner(_, parts))
    val toP = Array.fill(parts)(new ArrayBuilder.ofLong)
    k = 0
    while (k < m) { toP(to(k)) += dst(k); k += 1 }
    val slotIds = toP.map(b => sortedDistinct(b.result()))
    val at = Array.tabulate(m)(k =>
      java.util.Arrays.binarySearch(slotIds(to(k)), dst(k)))
    // receive routes: partition s's slots here are the same destinations,
    // found from the same edges, in the same sorted order
    val fromP = Array.fill(parts)(new ArrayBuilder.ofLong)
    k = 0
    while (k < inIds.length) { fromP(inSrc(k)) += inIds(k); k += 1 }
    val from = fromP.map(b => positions(ix.ids, sortedDistinct(b.result())))
    val markIds = sortedDistinct(markB.result())
    val marked = ix.ids.map(java.util.Arrays.binarySearch(markIds, _) >= 0)
    new Block(t, ix.ids, offs, to, at, slotIds.map(_.length), from, marked)
  }
}
