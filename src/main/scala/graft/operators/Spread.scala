package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-skew guard for row-local-heavy kernels (opt guide §2.5: "one huge
  * unsplittable file … repartition immediately after the read").
  *
  * A scan whose split count is far below the cluster's parallelism
  * serializes every per-row kernel that runs BEFORE the first exchange —
  * MinHash signatures, container decodes, line-dedup folds, gram explodes
  * all execute inside the scan stage, so a one-file input runs them on one
  * core no matter how many are available. That regime is an artifact of
  * small/consolidated inputs (the test corpus is one parquet file per
  * table; parquet cannot split below a row group): a production corpus
  * arrives as thousands of files and the guard never fires.
  *
  * [[ifNarrow]] round-robin-repartitions to the session's default
  * parallelism only when the input's split count is at most half of it —
  * scale-adaptive (derived from the actual scan and the actual cluster),
  * never a pinned constant. The exchange it adds carries the raw input
  * rows once; the deterministic local sort-before-repartition
  * (SPARK-23207, on by default) keeps row placement reproducible under
  * task retry. Round-robin placement does not affect any result here:
  * every downstream operator in this library is partitioning-agnostic
  * (hash aggregations, equi-joins, per-doc windows keyed by unique ids,
  * DECIMAL-accumulated sums — the cross-engine determinism discipline).
  *
  * Streaming frames pass through untouched (`.rdd` is undefined on them;
  * micro-batches are already sized by the source).
  */
object Spread {

  /** The partition probe is only free on scan-shaped plans. On a plan
    * with exchanges, `df.rdd.getNumPartitions` under AQE EXECUTES every
    * query stage to finalize the adaptive plan (measured r20: 2 jobs /
    * 2.8 s on a small join subtree at sf0.1; SpreadSpec pins that the
    * guard launches none, and `graft.Profile`'s job list names any job by
    * its callsite), so probing there would run the query twice. Such
    * inputs are either already spread by an upstream guard or genuinely
    * distributed; the guard passes them through untouched.
    */
  private def probeSafe(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.collectFirst {
      case p if !(p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias]) => p
    }.isEmpty

  def ifNarrow(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    if (!probeSafe(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // on a scan-shaped plan getNumPartitions only plans (zero jobs); file
    // listing is session-cached, so the probe costs milliseconds
    val parts = df.rdd.getNumPartitions
    if (parts * 2 <= target) df.repartition(target) else df
  }
}
