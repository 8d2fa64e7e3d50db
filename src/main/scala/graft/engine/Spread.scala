package graft.engine

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input spread for CPU-heavy per-row stages (guide §2:
  * partitioning derived from the input, not a constant tuned for local
  * mode or the cluster).
  *
  * The validation corpora are single-row-group parquet files, so every
  * scan yields ONE partition regardless of `maxPartitionBytes` (a row
  * group is the minimum parquet read unit), and the expensive per-row
  * text work that follows — tokenize, shingle, md5/minhash/simhash
  * hashing — runs as a single task while the other 31 cores idle. r20
  * profiling: x121's base shingle job ran 1.2 s on 1 task; x81's two
  * tokenize jobs 0.7 s each on 1 task; x117's fingerprint job 1.4 s on
  * 1 task.
  *
  * `cpuHeavy` repartitions such narrow inputs to `defaultParallelism`
  * BEFORE the heavy projection. The gate makes it scale-adaptive, not a
  * local tune: at production scale a corpus scan already yields at
  * least as many splits as the cluster has slots, the gate reads false,
  * and no exchange is added. The shuffle it introduces at validation
  * scale carries the raw input rows (KBs), strictly before the
  * expensive work — the opposite trade of O2 (r19), which REMOVED
  * near-empty partitions from iterated trainer stages; this spreads a
  * once-per-query input so its one heavy stage stops serializing.
  *
  * Result-identical: round-robin repartitioning only changes row
  * placement; every consumer (set/sum aggregations, per-row hashing,
  * equi-joins) is row-order independent, and Spark's
  * sort-before-repartition (on by default) keeps the placement
  * deterministic under task retry. Without that pre-sort a retried
  * upstream task can hand its rows to different reducers, so `cpuHeavy`
  * adds no exchange when `spark.sql.execution.sortBeforeRepartition`
  * is off.
  */
object Spread {

  /** Fire only on BARE scans (a leaf relation, possibly projected).
    * The heavy funnels ([[graft.ext.Dedup.shingled]] and friends) are
    * also called inside index-extend lifecycles on small filtered or
    * semi-join-pruned inputs, many times per query; spreading those
    * measured a 20–40% x121/x137 REGRESSION (r20): each call added a
    * near-empty 32-task exchange stage to every downstream materialize
    * (+18 jobs on x137, CPU 2 → 29 s). A full-corpus declared query
    * passes the raw scan here, which is exactly the case whose one
    * heavy stage serializes.
    */
  private def isBareScan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => true
      case prj: org.apache.spark.sql.catalyst.plans.logical.Project =>
        isBareScan(prj.child)
      case _ => false
    }

  def cpuHeavy(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // bare-scan test first (logical-plan only); getNumPartitions plans
    // the frame but launches no job
    if (df.sparkSession.sessionState.conf.sortBeforeRepartition &&
      isBareScan(df.queryExecution.optimizedPlan) &&
      df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
