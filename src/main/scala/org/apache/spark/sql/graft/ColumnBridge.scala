package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark's `private[sql]` Column↔Expression conversions so
  * graft can expose custom Catalyst expressions (e.g.
  * [[graft.functions.DotProduct]]) as regular `Column`s. Lives under
  * `org.apache.spark.sql` purely for access; contains no logic.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The fully-converted Catalyst tree behind `c`. [[expression]]
    * returns a LAZY `ColumnNodeExpression` wrapper whose children are
    * not traversable before analysis; this converts eagerly — use it
    * when inspecting the tree (e.g. collecting referenced column
    * names), not when building plans. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `Dataset.ofRows` for executing a hand-transformed logical plan
    * (used by specs to drive optimizer rules directly). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`, which must already be persisted, as a Dataset whose whole
    * logical plan is one `LogicalRDD` leaf reading its cache entry's
    * blocks. Plans built over it never re-analyze the upstream tree,
    * and — unlike an `InMemoryRelation` leaf, which carries the cached
    * physical plan as a display child, so every explain string, plan
    * info and AQE update of a deep chain re-renders each upstream
    * stage once per reference (exponential in stage depth) — the leaf
    * renders as one line.
    *
    * Building the leaf runs the frame's shuffle stages (adaptive
    * execution materializes them to plan the cache scan), so it runs
    * inside the session's artifact scope, as a Dataset action would.
    * Outside it those jobs run under the executors' default class
    * loader rather than the session's, and Spark keys its codegen
    * cache on the class loader: every stage's generated code was then
    * compiled again on each call (measured: 116 compilations per
    * small-shard serve-and-report call against 0 once warm).
    *
    * The leaf node is memoized per stored RDD of the cache entry, so
    * two cuts of one entry read the same relation and plans over them
    * still match each other in the CacheManager; each call wraps the
    * node in a Dataset of its own session. Key and node are held
    * weakly: an entry lives while the entry's stored RDD and some plan
    * over the leaf do, and needs no pruning. */
  def cachedLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val s = d.sparkSession
    s.sharedState.cacheManager.lookupCachedData(d).fold(df) { cd =>
      s.artifactManager.withResources {
        val stored = cd.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        def memo = leaves.synchronized(Option(leaves.get(stored)).flatMap(r => Option(r.get)))
        val leaf = memo.getOrElse {
          // built outside the lock: building runs the frame's shuffle jobs
          val built = LogicalRDD.fromDataset(
            s.sessionState.executePlan(d.logicalPlan).toRdd, d, isStreaming = false)
          leaves.synchronized(memo.getOrElse {
            leaves.put(stored, new java.lang.ref.WeakReference(built))
            built
          })
        }
        org.apache.spark.sql.classic.Dataset.ofRows(s, leaf)
      }
    }
  }
  private val leaves = new java.util.WeakHashMap[
    org.apache.spark.rdd.RDD[org.apache.spark.sql.columnar.CachedBatch],
    java.lang.ref.WeakReference[LogicalRDD]]()
}
