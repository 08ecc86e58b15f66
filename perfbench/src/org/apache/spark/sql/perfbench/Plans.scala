package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation, InMemoryTableScanExec}

/** Cache hygiene and executed-plan inspection. Lives under
  * `org.apache.spark.sql` because the cache builder is `private[sql]`. */
object Plans {

  /** Materialize every row of `df` without collecting it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** No persisted RDD and no cached table in the session. */
  def clean(spark: SparkSession): Boolean =
    spark.sparkContext.getPersistentRDDs.isEmpty &&
      spark.sharedState.cacheManager.isEmpty

  /** Drop every cached table and persisted RDD, the leaked ones too. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Physical nodes of `p`, through AQE wrappers; cached relations are
    * leaves here (see [[cacheReads]]). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  def builder(df: DataFrame): Option[CachedRDDBuilder] =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** Every cache `df`'s plan reads, directly or through another cache. */
  def cacheReads(df: DataFrame): Seq[CachedRDDBuilder] = {
    def physical(p: SparkPlan): Seq[CachedRDDBuilder] = nodes(p).flatMap {
      case s: InMemoryTableScanExec => fromBuilder(s.relation.cacheBuilder)
      case _ => Nil
    }
    def fromBuilder(b: CachedRDDBuilder): Seq[CachedRDDBuilder] =
      b +: physical(b.cachedPlan)
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => fromBuilder(r.cacheBuilder)
    }.flatten
  }

  /** True when `outer`'s plan reads the materialized cache of `inner`. */
  def reuses(outer: DataFrame, inner: DataFrame): Boolean =
    builder(inner).exists(b => cacheReads(outer).exists(_ eq b))

  /** Rows held by the materialized cache of `df`. */
  def cachedRows(df: DataFrame): Long =
    builder(df).map(_.rowCountStats.value.longValue).getOrElse(0L)
}
