package perfbench

import java.nio.file.{Files, Path}

import graft.operators.{Dbscan, EpsilonJoin, PageRank}
import graft.sources.{BinaryPoints, NetcdfPoints}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.perfbench.Plans
import org.apache.spark.sql.types._

/** Outcome of one timed operation: how many requests it served, and a
  * check of their outputs that runs after the clock stops. */
final class Outcome(val requests: Int, check: () => Int) {
  /** Requests whose output was wrong. */
  def failed(): Int = check()
}

trait Workload {
  /** Build the measured inputs (repeated during set-up). */
  def build(): Unit
  /** The other execution path's result on the same inputs, untimed. */
  def reference(): Unit
  /** One timed operation, up to a fully materialized result. */
  def run(): Outcome
  /** One traced operation, inside a span named "op". The map holds its
    * per-layer metrics and is read after the probe has drained. */
  def traced(p: Probe): (Outcome, () => Map[String, Double])
}

object Workloads {
  val names = Seq("dbscan_dist", "dbscan_harness", "pagerank_bsp")

  /** `small` shrinks every input for the benchmark's own tests. */
  def apply(name: String, spark: SparkSession, seed: Long, work: Path,
      small: Boolean): Workload = name match {
    case "dbscan_dist" => new DbscanDist(spark, seed, small)
    case "dbscan_harness" => new DbscanHarness(spark, seed, work, small)
    case "pagerank_bsp" => new PagerankBsp(spark, seed, small)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  val pointSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def pointsDf(spark: SparkSession, pts: Array[Array[Float]]): DataFrame = {
    val sc = spark.sparkContext
    val rows = pts.indices.map(i => Row(i.toLong, pts(i).toSeq))
    spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism),
      pointSchema)
  }

  def spanS(p: Probe, name: String, under: Int): Double =
    p.named(name, under).map(_.seconds).sum

  def jobsS(js: Seq[Probe.Job]): Double =
    js.map(j => j.endMs - j.startMs).sum / 1e3

  /** Time of the layer whose jobs carry description `prefix` and run
    * back to back with work on the calling thread between them: from the first such
    * job's start to the start of the next other job in `js`, or to
    * `endMs` when none follows. */
  def windowS(js: Seq[Probe.Job], prefix: String, endMs: Long): Double = {
    val i = js.indexWhere(_.description.startsWith(prefix))
    if (i < 0) 0.0
    else {
      val next = js.indexWhere(!_.description.startsWith(prefix), i)
      val stop = if (next < 0) endMs else js(next).startMs
      (stop - js(i).startMs) / 1e3
    }
  }

  /** Scheduler totals of one traced operation. */
  def sparkMetrics(t: Probe.Totals): Map[String, Double] = Map(
    "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
    "spark.tasks" -> t.tasks.toDouble, "spark.task_wait_s" -> t.taskWaitS,
    "spark.executor_run_s" -> t.runS, "spark.executor_cpu_s" -> t.cpuS,
    "spark.gc_s" -> t.gcS,
    "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
    "spark.spill_bytes" -> t.spill.toDouble)

  val MinPts = 5
}

import Workloads._

/** Forced-distributed DBSCAN (ε-join, core aggregate, connected
  * components, border attach) over seeded 5-d points in planted boxes. */
final class DbscanDist(spark: SparkSession, seed: Long, small: Boolean)
    extends Workload {
  private val eps = 1.0
  private val spec =
    if (small) Gen.Blobs(boxes = 1, perBox = 2000, dims = 5, half = 3, noise = 0.05)
    else Gen.Blobs(boxes = 1, perBox = 10000, dims = 5, half = 3, noise = 0.05)
  private var raw: Array[Array[Float]] = _
  private var pts: DataFrame = _
  private var want: Check.Labels = _

  private def dims(df: DataFrame): Seq[Int] =
    EpsilonJoin.pickBucketDims(df, "features", eps)

  private def cluster(df: DataFrame, ds: Seq[Int], localThreshold: Long) =
    Dbscan.run(df, "id", "features", eps, MinPts, ds,
      localThreshold = localThreshold)

  def build(): Unit = {
    raw = Gen.blobs(seed, spec)
    pts = pointsDf(spark, raw)
  }

  def reference(): Unit =
    want = Check.labels(cluster(pts, dims(pts), Long.MaxValue))

  def run(): Outcome = {
    val got = Check.labels(cluster(pts, dims(pts), 0L))
    new Outcome(1, () => if (got == want) 0 else 1)
  }

  def traced(p: Probe): (Outcome, () => Map[String, Double]) = {
    var join: DataFrame = null
    var labels: DataFrame = null
    var got: Check.Labels = null
    var ds: Seq[Int] = Nil
    val op = p.spans.size
    p.span("op") {
      ds = p.span("EpsilonJoin.pickBucketDims")(dims(pts))
      val cached = pts.persist()
      // the ε-pair stream materialized on its own, so that Dbscan.run's
      // identical subplan reads this cache instead of joining again
      join = p.span("EpsilonJoin.selfJoin") {
        val j = EpsilonJoin.selfJoinSalted(cached, "id", "features", eps,
          ds, None).persist()
        Plans.noop(j)
        j
      }
      got = p.span("Dbscan.run") {
        labels = cluster(cached, ds, 0L)
        Check.labels(labels)
      }
    }
    val out = new Outcome(1, () => if (got == want) 0 else 1)
    (out, () => {
      val run = p.named("Dbscan.run", op).head
      val inRun = p.jobsUnder(run.id)
      val salt = inRun.filter(_.description.startsWith("denseCellSalts"))
      val cc = inRun.filter(_.description.startsWith("cc:"))
      val ccS = windowS(inRun, "cc:", run.endMs)
      val ejJobs = p.jobsUnder(p.named("EpsilonJoin.pickBucketDims", op).head.id) ++
        p.jobsUnder(p.named("EpsilonJoin.selfJoin", op).head.id) ++ salt
      val ej = Probe.totals(ejJobs)
      val pairs = Plans.cachedRows(join)
      val candidates = DbscanDist.candidates(raw, eps, ds)
      p.note("Dbscan.run reads the materialized ε-join",
        Plans.reuses(labels, join))
      // the inputs of the core test and the merge, counted on the
      // materialized pairs outside every span
      val (cores, coreEdges) = DbscanDist.coreCounts(join, MinPts)
      sparkMetrics(Probe.totals(p.jobsUnder(op))) ++ Map(
        "EpsilonJoin.join_s" -> spanS(p, "EpsilonJoin.selfJoin", op),
        "EpsilonJoin.pick_dims_s" -> spanS(p, "EpsilonJoin.pickBucketDims", op),
        "EpsilonJoin.salt_probe_s" -> jobsS(salt),
        "EpsilonJoin.candidates" -> candidates.toDouble,
        "EpsilonJoin.pairs" -> pairs.toDouble,
        "EpsilonJoin.pair_yield" ->
          (if (candidates > 0) pairs / 2.0 / candidates else 0.0),
        "EpsilonJoin.shuffle_write_bytes" -> ej.shuffleWrite.toDouble,
        "EpsilonJoin.spill_bytes" -> ej.spill.toDouble,
        "EpsilonJoin.jobs" -> ej.jobs.toDouble,
        "Dbscan.merge_s" -> (run.seconds - jobsS(salt) - ccS),
        "Dbscan.cores" -> cores.toDouble,
        "Dbscan.clusters" -> got.clusters.toDouble,
        "Dbscan.noise" -> got.noise.toDouble,
        "ConnectedComponents.cc_s" -> ccS,
        "ConnectedComponents.levels" -> cc.map(_.description.split(" ")(2))
          .distinct.size.toDouble,
        "ConnectedComponents.edges_in" -> (coreEdges + cores).toDouble,
        "ConnectedComponents.jobs" -> cc.size.toDouble)
    })
  }
}

object DbscanDist {
  /** Candidate pairs of the grid ε-join: unordered point pairs in one
    * ε-cell or in adjacent cells over the bucket dims, which is what the
    * join compares before its distance test (the engine folds that test
    * into the join condition, so the plan's row metrics count survivors
    * only). Cells are floor(coordinate / ε), as the engine computes them. */
  def candidates(points: Array[Array[Float]], eps: Double,
      dims: Seq[Int]): Long = {
    val cells = points.groupMapReduce(p =>
      dims.map(d => math.floor(p(d).toDouble / eps).toLong))(_ => 1L)(_ + _)
    // neighbour offsets whose first non-zero component is +1: each pair of
    // distinct adjacent cells once
    val offsets = dims.foldLeft(Seq(Seq.empty[Long])) { (acc, _) =>
      for (o <- acc; d <- -1L to 1L) yield o :+ d
    }.filter(_.dropWhile(_ == 0).headOption.contains(1L))
    cells.iterator.map { case (c, n) =>
      n * (n - 1) / 2 + offsets.iterator.map(o =>
        cells.getOrElse(c.lazyZip(o).map(_ + _), 0L) * n).sum
    }.sum
  }

  /** (core points, ordered core-core pairs) from an ε-pair table. A
    * point's neighbour count includes the point itself. */
  def coreCounts(pairs: DataFrame, minPts: Int): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val cores = pairs.groupBy(col("a_id").as("id")).count()
      .filter(col("count") + 1 >= minPts).select("id")
    val nCores = cores.agg(count(lit(1))).head().getLong(0)
    val coreCore = pairs
      .join(broadcast(cores.withColumnRenamed("id", "a_id")), "a_id")
      .join(broadcast(cores.withColumnRenamed("id", "b_id")), "b_id")
      .agg(count(lit(1))).head().getLong(0)
    (nCores, coreCore)
  }
}

/** A closed loop with one client in the shape of the reference's test
  * harness: each request reads one point file in the reference binary
  * format, clusters it with default DBSCAN (the fused path at these sizes)
  * and writes the labelled points as a netCDF file. One operation is one
  * pass over the three sets. */
final class DbscanHarness(spark: SparkSession, seed: Long, work: Path,
    small: Boolean) extends Workload {
  private final case class DataSet(name: String, spec: Gen.Blobs, eps: Double)
  // the reference's 2-, 5- and 10-d shapes; eps per set keeps about 20
  // expected ε-neighbours inside a box
  private val sets = {
    val all = Seq(
      DataSet("d2", Gen.Blobs(2, 2000, 2, 3, 0.05), 0.35),
      DataSet("d5", Gen.Blobs(2, 2500, 5, 3, 0.05), 1.65),
      DataSet("d10", Gen.Blobs(1, 3000, 10, 3, 0.05), 3.3))
    if (small) all.map(s => s.copy(spec = s.spec.copy(boxes = 1, perBox = 500)))
    else all
  }
  private val dir = Files.createDirectories(work.resolve("harness"))
  private def input(s: DataSet) = dir.resolve(s"${s.name}.bin")
  private def output(s: DataSet) = dir.resolve(s"${s.name}.nc")
  private var want = Map.empty[String, Check.Labels]

  private def read(s: DataSet): DataFrame =
    BinaryPoints.read(spark, input(s).toString)

  private def dims(s: DataSet, df: DataFrame): Seq[Int] =
    EpsilonJoin.pickBucketDims(df, "features", s.eps, knownDim = s.spec.dims)

  private def write(s: DataSet, pts: DataFrame, labels: DataFrame): Unit =
    NetcdfPoints.write(pts.join(labels, "id"), "id", "features",
      "cluster_id", output(s).toString)

  private def request(s: DataSet): Unit = {
    val pts = read(s)
    write(s, pts,
      Dbscan.run(pts, "id", "features", s.eps, MinPts, dims(s, pts)))
  }

  /** Read back what the requests wrote and compare with the reference. */
  private def checkOutputs(): Int = sets.count { s =>
    val back = NetcdfPoints.read(spark, output(s).toString)
      .select("id", "cluster_id")
    Check.labels(back) != want(s.name)
  }

  private var raw = Map.empty[String, Array[Array[Float]]]

  def build(): Unit = {
    raw = sets.map(s => s.name -> Gen.blobs(seed, s.spec)).toMap
    sets.foreach(s => Gen.writeBinary(raw(s.name), input(s)))
  }

  // the benchmark's own sequential DBSCAN: the engine's distributed path
  // costs several seconds of job latency per set, too much for every run
  def reference(): Unit =
    want = sets.map { s =>
      val ids = raw(s.name).indices.map(_.toLong).toArray
      s.name -> Check.labels(Check.labelsDf(spark, ids,
        Oracle.labels(raw(s.name), s.eps, MinPts)))
    }.toMap

  def run(): Outcome = {
    sets.foreach(request)
    new Outcome(sets.size, () => checkOutputs())
  }

  def traced(p: Probe): (Outcome, () => Map[String, Double]) = {
    val op = p.spans.size
    p.span("op") {
      sets.foreach { s =>
        val pts = p.span("sources.read") {
          val df = read(s).persist()
          Plans.noop(df)
          df
        }
        val ds = p.span("EpsilonJoin.pickBucketDims")(dims(s, pts))
        val lazyLabels = p.span("Dbscan.run") {
          Dbscan.run(pts, "id", "features", s.eps, MinPts, ds)
        }
        val labels = p.span("Dbscan.local") {
          val df = lazyLabels.persist()
          Plans.noop(df)
          df
        }
        p.span("sources.write")(write(s, pts, labels))
      }
    }
    val out = new Outcome(sets.size, () => checkOutputs())
    (out, () => {
      val bytes = (f: DataSet => Path) => sets.map(s => Files.size(f(s))).sum
      sparkMetrics(Probe.totals(p.jobsUnder(op))) ++ Map(
        "sources.read_s" -> spanS(p, "sources.read", op),
        "sources.write_s" -> spanS(p, "sources.write", op),
        "sources.bytes_read" -> bytes(input).toDouble,
        "sources.bytes_written" -> bytes(output).toDouble,
        "EpsilonJoin.pick_dims_s" -> spanS(p, "EpsilonJoin.pickBucketDims", op),
        "Dbscan.local_s" -> spanS(p, "Dbscan.local", op),
        "Dbscan.merge_s" -> spanS(p, "Dbscan.run", op))
    })
  }
}

/** Forced-distributed PageRank (10 rounds) over seeded hub-skewed edges. */
final class PagerankBsp(spark: SparkSession, seed: Long, small: Boolean)
    extends Workload {
  private val rounds = 10
  private val (nEdges, nNodes) = if (small) (5000, 500) else (50000, 5000)
  private var edges: DataFrame = _
  private var want: (Array[Long], Array[Double]) = _

  def build(): Unit = {
    val (src, dst) = Gen.edges(seed, nEdges, nNodes)
    val sc = spark.sparkContext
    edges = spark.createDataFrame(
      sc.parallelize(src.indices.map(i => Row(src(i), dst(i))),
        sc.defaultParallelism),
      StructType(Seq(StructField("src", LongType, nullable = false),
        StructField("dst", LongType, nullable = false))))
  }

  private def rank(df: DataFrame, r: Int, localThreshold: Long) =
    PageRank.run(df, "src", "dst", r, localThreshold = localThreshold)


  def reference(): Unit =
    want = Check.collectRanks(rank(edges, rounds, Long.MaxValue))

  private def checked(ranks: DataFrame): Outcome =
    new Outcome(1, () =>
      if (Check.ranks(Check.collectRanks(ranks), want)) 0 else 1)

  def run(): Outcome = {
    val ranks = rank(edges, rounds, 0L)
    Check.rankSummary(ranks)
    checked(ranks)
  }

  def traced(p: Probe): (Outcome, () => Map[String, Double]) = {
    // the same graph at 10 rounds (the operation) and, outside it, at 5:
    // the difference over the five extra rounds is the cost of one round
    val half = rounds / 2
    var ranks: DataFrame = null
    val op = p.spans.size
    p.span("op") {
      p.span("PageRank.run") {
        ranks = rank(edges, rounds, 0L)
        Check.rankSummary(ranks)
      }
    }
    p.span("PageRank.run_half") {
      Check.rankSummary(rank(edges, half, 0L))
    }
    (checked(ranks), () => {
      val full = p.named("PageRank.run", op).head
      val part = p.spans.find(s => s.id > op && s.name == "PageRank.run_half").get
      val tf = Probe.totals(p.jobsUnder(full.id))
      val tp = Probe.totals(p.jobsUnder(part.id))
      val extra = (rounds - half).toDouble
      sparkMetrics(tf) ++ Map(
        "PageRank.round_s" -> (full.seconds - part.seconds) / extra,
        "PageRank.jobs_per_round" -> (tf.jobs - tp.jobs) / extra,
        "PageRank.stages_per_round" -> (tf.stages - tp.stages) / extra,
        "PageRank.shuffle_bytes_per_round" ->
          (tf.shuffleWrite - tp.shuffleWrite) / extra)
    })
  }
}
