package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Plans

/** One benchmark run in a fresh JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * [--trace-dir <dir>] [--commit <id>] [--small]`; `--small` shrinks the
  * inputs for the benchmark's own tests.
  *
  * Set-up is the session start, the median of several input builds and
  * one untimed warm-up operation. The other execution path's result is
  * computed untimed; then timed operations run for `--seconds`, each one
  * checked after its clock stops, with every cache released between them. With `--trace 1` the first half
  * of the time runs untraced and the second half traced, and the
  * per-layer metrics are printed instead of the end-to-end ones. The last
  * stdout line is the result JSON. */
object Main {
  private val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, traceDir: Path, small: Boolean,
      commit: String)

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")),
      Paths.get(kv.getOrElse("--trace-dir", need("--work"))),
      args.contains("--small"), kv.getOrElse("--commit", "unknown"))
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Seconds `f` took, caches released afterwards. */
  private def timed(f: => Unit)(implicit spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    f
    Plans.release(spark)
    (System.nanoTime() - t0) / 1e9
  }

  private def heapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-operation measurements. */
  final case class OpStat(wallS: Double, cpuS: Double, heapMb: Double,
      persisted: Int, requests: Int, failed: Int)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    implicit val spark: SparkSession = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      val w = Workloads(a.workload, spark, a.seed, a.work, a.small)
      // inputs are built several times and the median kept; the warm-up
      // is one untimed operation on the measured input (a small input left
      // the JIT cold enough that the next three operations still sped up)
      val builds = (1 to (if (a.small) 1 else SetupReps)).map(_ =>
        timed(w.build()))
      val warmS = timed(w.run())
      val setupS = sessionS + Metrics.median(builds) + warmS
      val refS = timed(w.reference())
      System.err.println(f"perfbench: session $sessionS%.2f s, input " +
        f"builds ${builds.map(b => f"$b%.2f").mkString(" ")} s, warm-up " +
        f"$warmS%.2f s, reference $refS%.2f s")

      // one operation: `body` returns its outcome and a finish step
      // (the traced run's per-layer metrics) that runs after the clock
      // stops and before the caches are released
      def measure[T](body: => (Outcome, () => T)): (OpStat, Option[T]) = {
        val clean = Plans.clean(spark)
        val c0 = cpuSeconds()
        val t0 = System.nanoTime()
        val done =
          try Some(body)
          catch { case e: Exception => e.printStackTrace(); None }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = cpuSeconds() - c0
        if (!clean) System.err.println(
          "perfbench: cached data was present at the start of an operation")
        val stat = done match {
          case Some((out, _)) =>
            val failed = if (clean) out.failed() else out.requests
            // heap is read while the outcome still references the result
            OpStat(wall, cpu, heapMb(),
              spark.sparkContext.getPersistentRDDs.size, out.requests, failed)
          case None => OpStat(wall, cpu, heapMb(), 0, 1, 1)
        }
        val extra = done.map(_._2())
        Plans.release(spark)
        (stat, extra)
      }
      // at least three operations for a median; a traced run splits its
      // time into an untraced and a traced half of at least two each
      val minOps = if (a.small) 1 else if (a.trace) 2 else 3
      def loop[T](seconds: Double)(body: => (Outcome, () => T)) = {
        val out = ArrayBuffer[(OpStat, Option[T])]()
        val t0 = System.nanoTime()
        while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds)
          out += measure(body)
        out.toSeq
      }

      val untraced = loop(if (a.trace) a.seconds / 2 else a.seconds) {
        (w.run(), () => ())
      }.map(_._1)
      val med = (f: OpStat => Double) => Metrics.median(untraced.map(f))

      val (stats, registry, values) =
        if (!a.trace)
          (untraced, Metrics.endToEnd, Map(
            "setup_s" -> setupS, "run_s" -> med(_.wallS),
            "cpu_s" -> med(_.cpuS), "retained_heap_mb" -> med(_.heapMb)))
        else {
          val probe = new Probe(spark.sparkContext)
          val traced = loop(a.seconds / 2) {
            val (out, layers) = w.traced(probe)
            (out, () => { probe.drain(); layers() })
          }
          probe.close()
          val layerRuns = traced.flatMap(_._2)
          val names = Metrics.perLayer.map(_._1)
          val unknown = layerRuns.flatMap(_.keySet).toSet -- names
          require(unknown.isEmpty, s"metrics missing from the registry: $unknown")
          val layer = names.map { n =>
            n -> Metrics.median(layerRuns.map(_.getOrElse(n, 0.0)))
          }.toMap
          val tracedS = Metrics.median(
            probe.spans.filter(_.name == "op").map(_.seconds).toSeq)
          Files.createDirectories(a.traceDir)
          Files.write(a.traceDir.resolve(s"${a.workload}-seed${a.seed}.json"),
            probe.toJson.getBytes("UTF-8"))
          (untraced ++ traced.map(_._1), Metrics.perLayer, layer ++ Map(
            "spark.persisted_rdds_after" -> med(_.persisted.toDouble),
            "trace.untraced_run_s" -> med(_.wallS),
            "trace.traced_run_s" -> tracedS,
            "trace.overhead_s" -> (tracedS - med(_.wallS))))
        }

      System.err.println("perfbench: operations " +
        stats.map(o => f"${o.wallS}%.2f").mkString(" ") + " s")
      val attempted = stats.map(_.requests.toLong).sum
      val failed = stats.map(_.failed.toLong).sum
      println("perfbench env " + envJson(spark, a))
      println(Metrics.resultJson(failed == 0, attempted, failed, registry,
        values))
    } finally spark.stop()
  }

  private def envJson(spark: SparkSession, a: Args): String =
    s"""{"workload":"${a.workload}","seed":${a.seed},""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors()},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""spark":"${spark.version}","commit":"${a.commit}"}"""
}
