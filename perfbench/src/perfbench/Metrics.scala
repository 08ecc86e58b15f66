package perfbench

/** Every metric the benchmark prints, with its unit. BENCHMARK.json at the
  * repository root lists the same names; the benchmark's tests hold the
  * two lists equal. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "run_s" -> "s",
    "cpu_s" -> "s",
    "retained_heap_mb" -> "MB")

  /** Layers a workload bypasses report 0 for their metrics. */
  val perLayer: Seq[(String, String)] = Seq(
    "EpsilonJoin.join_s" -> "s",
    "EpsilonJoin.pick_dims_s" -> "s",
    "EpsilonJoin.salt_probe_s" -> "s",
    "EpsilonJoin.candidates" -> "count",
    "EpsilonJoin.pairs" -> "count",
    "EpsilonJoin.pair_yield" -> "ratio",
    "EpsilonJoin.shuffle_write_bytes" -> "bytes",
    "EpsilonJoin.spill_bytes" -> "bytes",
    "EpsilonJoin.jobs" -> "count",
    "Dbscan.merge_s" -> "s",
    "Dbscan.local_s" -> "s",
    "Dbscan.cores" -> "count",
    "Dbscan.clusters" -> "count",
    "Dbscan.noise" -> "count",
    "ConnectedComponents.cc_s" -> "s",
    "ConnectedComponents.levels" -> "count",
    "ConnectedComponents.edges_in" -> "count",
    "ConnectedComponents.jobs" -> "count",
    "sources.read_s" -> "s",
    "sources.write_s" -> "s",
    "sources.bytes_read" -> "bytes",
    "sources.bytes_written" -> "bytes",
    "PageRank.round_s" -> "s",
    "PageRank.jobs_per_round" -> "count",
    "PageRank.stages_per_round" -> "count",
    "PageRank.shuffle_bytes_per_round" -> "bytes",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_wait_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.persisted_rdds_after" -> "count",
    "trace.untraced_run_s" -> "s",
    "trace.traced_run_s" -> "s",
    "trace.overhead_s" -> "s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The result line: exactly the registry's metrics, each with its unit.
    * A value the run did not produce, or one the registry does not know,
    * is an error rather than a silent gap. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      registry: Seq[(String, String)], values: Map[String, Double]): String = {
    val unknown = values.keySet -- registry.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the registry: $unknown")
    val ms = registry.map { case (name, unit) =>
      val v = values.getOrElse(name,
        throw new IllegalStateException(s"metric $name was not measured"))
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name":{"value":$v,"unit":"$unit"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
