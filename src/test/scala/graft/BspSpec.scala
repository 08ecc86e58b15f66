package graft

import graft.operators.Bsp

class BspSpec extends SparkSpec {

  test("index: sorted distinct ids; every endpoint resolves to its id") {
    val a = Array(9L, -3L, 9L, 40L)
    val b = Array(40L, 7L)
    val ix = Bsp.index(a, b)
    assert(ix.ids.toSeq == Seq(-3L, 7L, 9L, 40L))
    assert(ix.ai.map(ix.ids).toSeq == a.toSeq)
    assert(ix.bi.map(ix.ids).toSeq == b.toSeq)
  }

  test("build + round: inbox sums equal a plain fold at 1, 3 and 7 " +
      "partitions; sinks kept, marks flagged") {
    val rnd = new scala.util.Random(11)
    // ids strided by 7, so an unmixed id-mod-7 owner would put every node
    // in one of 7 partitions; 99999 is only ever a destination
    val edges = ((1 to 2000).map(_ =>
      (rnd.nextInt(300).toLong * 7, rnd.nextInt(300).toLong * 7)) :+
      (7L, 99999L)).distinct
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map(v =>
      v -> edges.filter(_._2 == v).map(_._1.toDouble).sum).toMap
    val df = spark.createDataFrame(edges).toDF("src", "dst")
    val marks = spark.createDataFrame(
      Seq(Tuple1(7L), Tuple1(14L), Tuple1(-1L))).toDF("id")
    for (parts <- Seq(1, 3, 7)) {
      val g = Bsp.build(df, Some(marks), parts, "bsp spec: build")
      try {
        assert(g.nodes == nodes.size)
        assert(g.marked == Seq(7L, 14L).count(nodes.contains))
        val blocks = g.blocks.collect()
        assert(blocks.map(_.offs.last).sum == edges.size)
        assert(blocks.flatMap(_.ids).sorted.toSeq == nodes.sorted)
        blocks.foreach(b => b.ids.indices.foreach(v =>
          assert(b.marked(v) == (b.ids(v) == 7L || b.ids(v) == 14L))))
        val x = g.blocks.map(_.ids.map(_.toDouble))
        val in = g.rounds(x, 1)((_, s) => s)((_, in) => in)
        val got = g.rows(in).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got == want, s"$parts partitions")
      } finally g.blocks.unpersist()
    }
  }
}
