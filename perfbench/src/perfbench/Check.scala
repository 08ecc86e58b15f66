package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-free result fingerprints. Computing one is a full aggregate over
  * every output row, so it doubles as the timed sink. */
object Check {

  /** Fingerprint of a DBSCAN label table `(id, cluster_id)`: row count,
    * two independent 32-bit hash sums over (id, label), cluster count and
    * noise count. Changing any one label changes both hash sums. */
  final case class Labels(rows: Long, h1: Long, h2: Long, clusters: Long,
      noise: Long)

  /** A label table `(id, cluster_id)` from local arrays. */
  def labelsDf(spark: SparkSession, ids: Array[Long],
      labels: Array[Int]): DataFrame = {
    import spark.implicits._
    ids.zip(labels).toSeq.toDF("id", "cluster_id")
  }

  def labels(df: DataFrame): Labels = {
    val r = df.agg(
      count(lit(1)),
      sum(hash(col("id"), col("cluster_id")).cast("long")),
      sum(shiftrightunsigned(xxhash64(col("id"), col("cluster_id")), 32)),
      coalesce(max(col("cluster_id")).cast("long"), lit(0L)),
      sum(when(col("cluster_id") === 0, 1L).otherwise(0L))).head()
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Labels(long(0), long(1), long(2), long(3), long(4))
  }

  /** Fingerprint of a rank table `(id, rank)`: rows and rank sum. The
    * timed sink of the PageRank workload; the value check is [[ranks]]. */
  def rankSummary(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), sum(col("rank"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** Tolerance between the fused and the distributed PageRank: the two
    * sum contributions in different orders (the same bound the engine's
    * own parity spec uses). */
  val RankTolerance = 1e-12

  /** Sorted (ids, ranks) of a rank table, collected locally. */
  def collectRanks(df: DataFrame): (Array[Long], Array[Double]) = {
    val rows = df.select(col("id"), col("rank")).collect().sortBy(_.getLong(0))
    (rows.map(_.getLong(0)), rows.map(_.getDouble(1)))
  }

  /** True when both rank tables hold the same ids and every rank agrees
    * within [[RankTolerance]]. */
  def ranks(got: (Array[Long], Array[Double]),
      want: (Array[Long], Array[Double])): Boolean =
    java.util.Arrays.equals(got._1, want._1) &&
      got._2.indices.forall(i =>
        math.abs(got._2(i) - want._2(i)) < RankTolerance)
}
