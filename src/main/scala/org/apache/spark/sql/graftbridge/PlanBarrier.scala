package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row

/** Zero-copy logical-plan freeze: re-roots a DataFrame on its own planned
  * RDD[InternalRow] (`queryExecution.toRdd` wrapped in a `LogicalRDD`).
  *
  * NOTHING is materialized or cached — execution still streams lazily
  * through the frozen subtree's physical plan via RDD lineage — but the
  * frozen subtree becomes an opaque leaf to Catalyst, so downstream plan
  * construction re-analyzes a flat scan instead of the whole accumulated
  * tree. Lives in the same `org.apache.spark.sql` bridge package as
  * [[ColumnBridge]] because `LogicalRDD` and `Dataset.ofRows` are
  * `private[sql]` — the standard extension-library pattern.
  */
object PlanBarrier {
  /** Freeze `df` into a leaf that DECLARES `HashPartitioning(hashCols,
    * numPartitions)` as its output partitioning. A window or aggregation
    * keyed on those columns then needs NO exchange of its own, where an
    * opaque leaf with `UnknownPartitioning` would force a full re-shuffle
    * of data that is already exactly where it needs to be
    * ([[graft.expr.OrderedAtScale]]'s single-exchange bucketed
    * decompositions).
    *
    * This is also the only barrier BETWEEN chained decomposition levels:
    * every level's bucketize freezes its input (prior levels included)
    * here. Without a barrier, chained two-level decompositions grow
    * analysis/optimization cost ~3× per level (measured: 6 chained
    * cum_sums = 19.5 s of pure planning at 1000 rows, 12 would be hours);
    * with one per level the cost is linear in chain depth.
    *
    * Trade-offs, deliberate: column pruning and predicate pushdown stop at
    * the barrier (a level consumes every row anyway), and whole-stage
    * codegen does not fuse across it.
    *
    * The declaration is explicit rather than read off the executed plan
    * (`LogicalRDD.fromDataset`, the `Dataset.checkpoint` machinery)
    * because under AQE the executed plan reports `UnknownPartitioning`
    * until its final stage has run — measured: the window above a
    * `fromDataset` freeze re-shuffled the whole frame. The CALLER is
    * asserting the layout: `df` must already be hash-partitioned that way,
    * either directly above the matching `repartition(numPartitions,
    * hashCols...)` or above operators that preserve such a child's
    * partitioning (windows partitioned by `hashCols`). */
  def freezeHashClustered(df: DataFrame, numPartitions: Int, hashCols: String*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val attrs = ds.queryExecution.analyzed.output
    val hashAttrs = hashCols.map { n =>
      attrs.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"freezeHashClustered: no column '$n' in ${attrs.map(_.name).mkString(",")}"))
    }
    val frozen = LogicalRDD(
      attrs, ds.queryExecution.toRdd,
      HashPartitioning(hashAttrs, numPartitions),
      Nil, isStreaming = false)(ds.sparkSession)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, frozen)
  }
}
