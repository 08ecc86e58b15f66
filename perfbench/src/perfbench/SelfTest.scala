package perfbench

import java.nio.file.Paths

import graft.operators.{Dbscan, EpsilonJoin}

/** The benchmark's own checks, run by perfbench/test_perfbench.py:
  * `java ... perfbench.SelfTest --work <dir>`. Exits non-zero on the first
  * failure. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }
    else println(s"selftest ok: $what")

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1))

    val spec = Gen.Blobs(boxes = 2, perBox = 300, dims = 5, half = 3, noise = 0.05)
    def same(a: Array[Array[Float]], b: Array[Array[Float]]) =
      a.length == b.length && a.indices.forall(i => a(i).sameElements(b(i)))
    check(same(Gen.blobs(7, spec), Gen.blobs(7, spec)),
      "generator: one seed gives the same points")
    check(!same(Gen.blobs(7, spec), Gen.blobs(8, spec)),
      "generator: another seed gives other points")
    check(Gen.edges(7, 1000, 100)._2.sameElements(Gen.edges(7, 1000, 100)._2),
      "generator: one seed gives the same edges")
    check(!Gen.edges(7, 1000, 100)._2.sameElements(Gen.edges(8, 1000, 100)._2),
      "generator: another seed gives other edges")

    val spark = Main.session(work)
    try {
      val eps = 0.35
      val pts = Gen.blobs(5, Gen.Blobs(2, 1000, 2, 3, 0.05))
      val ids = pts.indices.map(_.toLong).toArray
      val want = Oracle.labels(pts, eps, Workloads.MinPts)
      check(want.max >= 2 && want.contains(0),
        "oracle: the fixture has two clusters and noise")

      val df = Workloads.pointsDf(spark, pts)
      val dims = EpsilonJoin.pickBucketDims(df, "features", eps)
      val print = Check.labels(Check.labelsDf(spark, ids, want))
      for (local <- Seq(0L, Long.MaxValue))
        check(Check.labels(Dbscan.run(df, "id", "features", eps,
          Workloads.MinPts, dims, localThreshold = local)) == print,
          s"oracle == engine (localThreshold $local)")

      // one changed label of each kind must change the fingerprint
      val member = want.indexWhere(_ > 0)
      val noise = want.indexWhere(_ == 0)
      for ((i, to, kind) <- Seq((member, 0, "member to noise"),
          (noise, 1, "noise to member"),
          (member, want(member) % want.max + 1, "member to another cluster"))) {
        val changed = want.updated(i, to)
        check(Check.labels(Check.labelsDf(spark, ids, changed)) != print,
          s"label check rejects one $kind")
      }

      val ranks = (Array(1L, 2L, 3L), Array(0.2, 0.3, 0.5))
      check(Check.ranks(ranks, ranks), "rank check accepts equal ranks")
      check(!Check.ranks((ranks._1, ranks._2.updated(1, 0.3 + 1e-9)), ranks),
        "rank check rejects one changed rank")
      println("selftest: all checks passed")
    } finally spark.stop()
  }
}
