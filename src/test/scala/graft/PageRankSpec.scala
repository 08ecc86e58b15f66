package graft

import graft.operators.{Bsp, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  /** In-memory reference: same simplified formulation (uniform init,
    * dangling mass dropped), plain Scala doubles. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view.mapValues(
        _.map(p => r(p._1) / out(p._1)).sum).toMap
      r = nodes.map(v => v -> ((1.0 - d) / n + d * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  private val chain = Seq( // hub-and-chain with a dangling sink (4)
    1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 3L -> 4L, 2L -> 4L)

  test("matches the in-memory reference on a hand graph") {
    val df = spark.createDataFrame(chain).toDF("s", "t")
    val got = PageRank.run(df, "s", "t", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = refRanks(chain, 10, 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, rk) =>
      assert(math.abs(rk - want(id)) < 1e-12, s"node $id: $rk vs ${want(id)}")
    }
    // dangling sink keeps collecting but never emits: total mass < 1
    assert(got.values.sum < 1.0)
    assert(got(4L) > got(1L) * 0.5, "sink fed by two nodes ranks high")
  }

  test("fused and distributed paths agree (to float sum-order)") {
    val df = spark.createDataFrame(chain).toDF("s", "t")
    val fused = PageRank.run(df, "s", "t", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = PageRank.run(df, "s", "t", 10, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused.keySet == dist.keySet)
    fused.foreach { case (id, rk) =>
      assert(math.abs(rk - dist(id)) < 1e-12, s"node $id: $rk vs ${dist(id)}")
    }
  }

  test("duplicate edges collapse; partitioning never changes ranks") {
    val dup = chain ++ chain ++ chain
    val df = spark.createDataFrame(dup).toDF("s", "t").repartition(7)
    val got = PageRank.run(df, "s", "t", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = refRanks(chain, 10, 0.85)
    got.foreach { case (id, rk) =>
      assert(math.abs(rk - want(id)) < 1e-12)
    }
  }

  test("symmetric complete graph is uniform; guards reject bad params") {
    val k3 = for (a <- 1L to 3L; b <- 1L to 3L if a != b) yield (a, b)
    val df = spark.createDataFrame(k3).toDF("s", "t")
    val got = PageRank.run(df, "s", "t", 5).collect().map(_.getDouble(1))
    got.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-12))
    assertThrows[IllegalArgumentException] { PageRank.run(df, "s", "t", 0) }
    assertThrows[IllegalArgumentException] {
      PageRank.run(df, "s", "t", 3, damping = 1.0)
    }
  }

  /** ~10k distinct hub-skewed edges over 400 nodes: enough edges that the
    * distributed path spans several partitions. */
  private lazy val hubEdges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(5)
    (1 to 12000).map { _ =>
      val s = rnd.nextInt(400).toLong
      val d = if (rnd.nextInt(4) == 0) rnd.nextInt(8).toLong
        else rnd.nextInt(400).toLong
      (s, d)
    }.filter(e => e._1 != e._2).distinct
  }

  private def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("distributed: the job count does not grow with the iterations") {
    val df = spark.createDataFrame(hubEdges).toDF("s", "t")
    def jobs(iters: Int) = jobsDuring {
      PageRank.run(df, "s", "t", iters, localThreshold = 0L).collect()
    }
    val (j5, j20) = (jobs(5), jobs(20))
    assert(j5 == j20, s"5 rounds ran $j5 jobs, 20 rounds ran $j20")
  }

  test("distributed: bit-identical across runs; after round(8) identical " +
      "across input partitionings and against the fused path") {
    val sc = spark.sparkContext
    assert(Bsp.partitions(hubEdges.size, sc.defaultParallelism) > 1,
      "the graph must span several partitions")
    val df = spark.createDataFrame(hubEdges).toDF("s", "t")
    val dist = () => PageRank.run(df, "s", "t", 10, localThreshold = 0L)
    assert(ranks(dist()) == ranks(dist()))
    def rounded(d: DataFrame) =
      ranks(d.select(col("id"), round(col("rank"), 8)))
    val fused = rounded(PageRank.run(df, "s", "t", 10))
    for (p <- Seq(1, 3, 7))
      assert(rounded(PageRank.run(df.repartition(p), "s", "t", 10,
        localThreshold = 0L)) == fused, s"input in $p partitions")
  }

  test("distributed: dangling sink and source-only node") {
    // 4 is only ever a destination (a dangling sink fed by 1 and 2);
    // 5 is only ever a source, so it keeps just the teleport term
    val g = chain.filterNot(_ == (3L -> 4L)) :+ (5L -> 1L)
    val df = spark.createDataFrame(g).toDF("s", "t")
    val got = ranks(PageRank.run(df, "s", "t", 10, localThreshold = 0L))
    val want = refRanks(g, 10, 0.85)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    got.foreach { case (id, rk) =>
      assert(math.abs(rk - want(id)) < 1e-12, s"node $id: $rk vs ${want(id)}")
    }
    assert(got(5L) == (1.0 - 0.85) / 5)
  }

  test("distributed: 500 rounds schedule (the lineage is cut every " +
      "Bsp.CutEvery rounds) and still agree with the fused path") {
    val df = spark.createDataFrame(chain).toDF("s", "t")
    val dist = ranks(PageRank.run(df, "s", "t", 500, localThreshold = 0L))
    val fused = ranks(PageRank.run(df, "s", "t", 500))
    fused.foreach { case (id, rk) => assert(math.abs(rk - dist(id)) < 1e-12) }
  }

  test("an empty edge table gives an empty result on both paths") {
    val df = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("s", "t")
    assert(PageRank.run(df, "s", "t", 3).collect().isEmpty)
    assert(PageRank.run(df, "s", "t", 3, localThreshold = -1L)
      .collect().isEmpty)
  }
}
