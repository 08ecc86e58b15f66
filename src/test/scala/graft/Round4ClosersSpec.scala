package graft

import graft.operators.{Basket, LanguageModel, PageRank, Search, Stats}
import org.apache.spark.sql.functions._

/** Hand-case coverage for the round-4 closers: personalized PageRank,
  * A-priori triples, positional phrase search, lexical diversity, and
  * the Theil index. */
class Round4ClosersSpec extends SparkSpec {

  private def twoCycle = spark.createDataFrame(Seq(
    (1L, 2L), (2L, 1L))).toDF("src", "dst")

  test("personalized: 2-cycle from one seed, 3 hand-traced rounds") {
    // r0 = (1, 0); r1 = (0.15, 0.85); r2 = (0.8725, 0.1275);
    // r3 = (0.15 + 0.85·0.1275, 0.85·0.8725) = (0.258375, 0.741625)
    val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("sid")
    val got = PageRank.personalized(twoCycle, "src", "dst", seeds, "sid",
      iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.258375) < 1e-12)
    assert(math.abs(got(2L) - 0.741625) < 1e-12)
  }

  test("personalized: fused and distributed paths agree") {
    val rnd = new scala.util.Random(7)
    val edges = spark.createDataFrame(
      (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)).toDF("src", "dst")
    val seeds = spark.createDataFrame(
      (0 to 40 by 5).map(i => Tuple1(i.toLong))).toDF("sid")
    val fused = PageRank.personalized(edges, "src", "dst", seeds, "sid", 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = PageRank.personalized(edges, "src", "dst", seeds, "sid", 5,
      localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused.keySet == dist.keySet)
    fused.foreach { case (k, v) => assert(math.abs(v - dist(k)) < 1e-12) }
    assert(math.abs(fused.values.sum - 1.0) < 0.2) // mass ≈ 1 − dangling
  }

  test("personalized: seeds outside the graph carry no mass") {
    val s1 = spark.createDataFrame(Seq(Tuple1(1L))).toDF("sid")
    val s2 = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(99L))).toDF("sid")
    val a = PageRank.personalized(twoCycle, "src", "dst", s1, "sid", 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = PageRank.personalized(twoCycle, "src", "dst", s2, "sid", 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a == b)
  }

  private lazy val pprGraph = {
    val rnd = new scala.util.Random(9)
    val edges = spark.createDataFrame(
      (1 to 12000).map(_ => (rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
        .filter(e => e._1 != e._2)).toDF("src", "dst")
    val seeds = spark.createDataFrame(
      (0 to 600 by 7).map(i => Tuple1(i.toLong))).toDF("sid")
    (edges, seeds)
  }

  test("personalized distributed: job count independent of iterations") {
    val (edges, seeds) = pprGraph
    def jobs(iters: Int) = jobsDuring {
      PageRank.personalized(edges, "src", "dst", seeds, "sid", iters,
        localThreshold = 0L).collect()
    }
    val (j5, j20) = (jobs(5), jobs(20))
    assert(j5 == j20, s"5 rounds ran $j5 jobs, 20 rounds ran $j20")
  }

  test("personalized distributed: bit-identical across runs; after " +
      "round(8) identical across input partitionings and to fused") {
    val (edges, seeds) = pprGraph
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def dist(e: org.apache.spark.sql.DataFrame) = PageRank.personalized(
      e, "src", "dst", seeds, "sid", 10, localThreshold = 0L)
    assert(ranks(dist(edges)) == ranks(dist(edges)))
    def rounded(df: org.apache.spark.sql.DataFrame) =
      ranks(df.select(col("id"), round(col("rank"), 8)))
    val fused = rounded(PageRank.personalized(edges, "src", "dst", seeds,
      "sid", 10))
    for (p <- Seq(1, 3, 7))
      assert(rounded(dist(edges.repartition(p))) == fused,
        s"input in $p partitions")
  }

  test("personalized: an empty edge table gives an empty result") {
    val none = spark.createDataFrame(Seq.empty[(Long, Long)])
      .toDF("src", "dst")
    val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("sid")
    for (t <- Seq(5_000_000L, -1L))
      assert(PageRank.personalized(none, "src", "dst", seeds, "sid", 3,
        localThreshold = t).collect().isEmpty)
  }

  test("frequentTriples: hand baskets, both prune levels lossless") {
    val rows = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L), (3L, 4L))
    val df = spark.createDataFrame(rows).toDF("b", "i").repartition(3)
    val got = Basket.frequentTriples(df, "b", "i", 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 2L, 3L, 2L), (1L, 2L, 4L, 2L)))
  }

  test("phraseCount: counts occurrences, including overlapping") {
    val docs = spark.createDataFrame(Seq(
      (1L, "x table hash y table hash"),
      (2L, "table table hash"),
      (3L, "hash table"))).toDF("doc_id", "text")
    val got = Search.phraseCount(docs, "doc_id", "text",
      Seq("table", "hash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
    val rep = spark.createDataFrame(Seq((9L, "a a a"))).toDF("doc_id", "text")
    val ov = Search.phraseCount(rep, "doc_id", "text", Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ov == Map(9L -> 2L)) // positions 0 and 1 both start "a a"
  }

  test("transitionEval: argmax successor scored over the transitions") {
    // user 1: a→b→a→b ; user 2: a→c. From 'a': b twice, c once →
    // predict b; 2/3 correct. From 'b': a once → predict a; 1/1.
    val rows = Seq(
      (1L, "a", 1L, 1L), (1L, "b", 2L, 2L), (1L, "a", 3L, 3L),
      (1L, "b", 4L, 4L), (2L, "a", 1L, 5L), (2L, "c", 2L, 6L))
    val df = spark.createDataFrame(rows)
      .toDF("u", "t", "ms", "eid").repartition(3)
    val got = operators.Sequences
      .transitionEval(df, "u", "t", "ms", Seq("eid")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toMap
    assert(got("a") == (("b", 3L, 2L, 0.666667)))
    assert(got("b") == (("a", 1L, 1L, 1.0)))
  }

  test("lexicalDiversity: hand doc") {
    val docs = spark.createDataFrame(Seq((1L, "a b a c")))
      .toDF("doc_id", "text")
    val r = LanguageModel.lexicalDiversity(docs, "doc_id", "text")
      .collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.75 && r.getDouble(4) == 0.666667)
  }

  test("theilIndex: zero at equality, positive and < ln(n) when skewed") {
    val df = spark.createDataFrame(
      Seq(("eq", 5L), ("eq", 5L), ("eq", 5L), ("eq", 5L),
        ("sk", 1L), ("sk", 1L), ("sk", 1L), ("sk", 97L)))
      .toDF("g", "v").repartition(3)
    val got = Stats.theilIndex(df, Seq("g"), col("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got("eq") == ((4L, 20L, 0.0)))
    val (n, tot, th) = got("sk")
    assert(n == 4L && tot == 100L)
    assert(th > 0.9 && th < math.log(4.0)) // heavy concentration
  }

  test("spread: path graph — influence advances one hop per round, " +
      "ties break to the smaller label, seeds stay clamped") {
    // 1—2—3—4—5, seeds: 1→100, 5→200. Round 1: 2→100, 4→200, 3 NULL.
    // Round 2: 3 sees {100, 200} tied → 100. Seeds never move.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = spark.createDataFrame(und ++ und.map(_.swap))
      .toDF("src", "dst").repartition(3)
    val seeds = spark.createDataFrame(Seq((1L, 100L), (5L, 200L)))
      .toDF("id", "lbl")
    def run(rounds: Int) =
      operators.LabelProp.spread(edges, "src", "dst", seeds, "id", "lbl",
        rounds).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val r1 = run(1)
    assert(r1 == Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None,
      4L -> Some(200L), 5L -> Some(200L)))
    val r2 = run(2)
    assert(r2(3L) == Some(100L)) // 1-1 tie → smaller label
    assert(r2(1L) == Some(100L) && r2(5L) == Some(200L)) // clamped
  }

  test("inertia: separable 1-d clusters report their exact SSE") {
    // seeds [0.0],[0.1] → Lloyd converges to {0.0,0.1} and {10.0,10.1};
    // each cluster's SSE = 2 · 0.05² = 0.005
    val pts = spark.createDataFrame(Seq(
      (1L, Seq(0.0f)), (2L, Seq(0.1f)), (3L, Seq(10.0f)),
      (4L, Seq(10.1f)))).toDF("vec_id", "embedding").repartition(2)
    val got = operators.ClusterEval.inertia(pts, "vec_id", "embedding",
      k = 2, rounds = 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._2)
    assert(got.length == 2)
    got.foreach { case (n, sse) =>
      assert(n == 2L && math.abs(sse - 0.005) < 1e-5)
    }
  }

  test("oovRate: top-2 vocabulary, deterministic tie-break") {
    // counts: a=3, b=c=z=1 → vocab {a, b} (ties break on the word)
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c"), (2L, "a a z"))).toDF("doc_id", "text")
    val got = LanguageModel.oovRate(docs, "doc_id", "text", vocabK = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 2L, 0.333333)))
    assert(got(2L) == ((3L, 2L, 0.333333)))
  }

  test("theilIndex: partitioning does not change the report") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map(_ => ("g", (rnd.nextInt(5000) + 1).toLong))
    val df = spark.createDataFrame(rows).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.theilIndex(d, Seq("g"), col("v")).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(df.repartition(1)) == run(df.repartition(19)))
  }
}
