package graft.engine

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase

/** AQE query-stage-prep rule: materialize the child of a range-sort
  * exchange so the global-sort SAMPLING pass does not re-execute it.
  *
  * A `ShuffleExchangeExec(RangePartitioning(...))` (every
  * `df.orderBy(...)` — the deterministic-output tail of all declared
  * queries) builds its range bounds with a `RangePartitioner` reservoir
  * sample that makes a FULL pass over the child RDD, then executes the
  * child a second time for the real shuffle write. When the segment
  * between the sort exchange and the nearest stage boundary below it
  * carries real work (joins, aggregates, generates, windows), that work
  * runs twice per query — r20 profiling of x81 showed twin ~8 executor-
  * CPU-second jobs, one with zero shuffle-write (the sample pass), one
  * writing the sort shuffle (guide §2.4: the "orderBy used only to make
  * output deterministic" accidental exchange, squared).
  *
  * The cut inserts a hash exchange ON THE SORT KEYS directly under the
  * range exchange. Under AQE the inserted exchange becomes its own
  * query stage: the expensive segment runs ONCE into a materialized
  * shuffle, and both the sample pass and the sort shuffle re-read those
  * (post-aggregation, usually tiny) bytes instead of recomputing the
  * segment. Trade: one extra shuffle of the FINAL output rows vs one
  * extra execution of everything below the sort — a win whenever the
  * segment does more than forward rows, which is what `hasRealWork`
  * tests (scan→filter→project tails are left alone: recompute there is
  * cheap and the extra exchange would double the scan's bytes moved).
  *
  * The inserted exchange hash-partitions on the sort-key TUPLE, so its
  * balance is the key's: a low-cardinality sort key (a handful of
  * distinct tuples) lands the whole segment output in a few skewed
  * partitions. Float/double keys hash bit patterns there, so -0.0 and
  * 0.0, and the different NaN encodings, can land in different
  * partitions — harmless for results, since the range sort above
  * compares them as equal and reorders every row anyway.
  *
  * Result-identical by construction: the total sort fully determines
  * the output order (the oracle compares rows in result order, so the
  * declared sort keys are total), and a hash re-distribution below it
  * cannot change which rows exist. Scale posture: at 100 TB the
  * recompute this removes is a full second execution of the query's
  * most expensive stage; the added exchange carries only the final
  * output. The rule is always on.
  *
  * Re-planning safe: once the cut fires, the range exchange's child is
  * an Exchange/QueryStage, for which `hasRealWork` is false, so the
  * rule does not re-fire or nest.
  */
object SortSampleCut extends Rule[SparkPlan] {

  /** Fire only when the tail segment (everything between the sort
    * exchange and the nearest stage boundaries below it) does real,
    * reducing work: a WINDOW, or a real AGGREGATION (aggregate
    * functions present, not a bare distinct merge) combined with a
    * join/generate that makes the segment's compute exceed its output.
    *
    * Measured calibration at sf0.1 (r20):
    *  - x81: tail = sum-aggregate + 4 BroadcastHashJoins → twin
    *    8-CPU-s jobs; cutting removes one of them. FIRE.
    *  - x82/x117: tail = bare final-distinct HashAggregate (input rows
    *    == output rows, 8.3 MiB / 1.1 MiB); cutting x82 shuffled
    *    8.3 MiB extra to save a ~0.1-CPU-s re-merge — net loss. SKIP.
    *  - q-series: tail = final HashAggregate merge only — re-merge is
    *    about as cheap as the extra exchange. SKIP (neutral, safer).
    */
  private def worthCutting(child: SparkPlan): Boolean = {
    val nodes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val stops = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case s @ (_: Exchange | _: ReusedExchangeExec | _: QueryStageExec) =>
        stops += s
      case n =>
        nodes += n
        n.children.foreach(walk)
    }
    walk(child)
    val window = nodes.exists(_.isInstanceOf[WindowExecBase])
    val aggFns = nodes.exists {
      case a: BaseAggregateExec => a.aggregateExpressions.nonEmpty
      case _ => false
    }
    val joinOrGen = nodes.exists(n =>
      n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[GenerateExec])
    window || (aggFns && joinOrGen)
  }

  // NOTE (r20 calibration round 2): a runtime-STATS gate ("fire only
  // when the segment's materialized input stages are big") was tried
  // and is IMPOSSIBLE with a prep rule: only the initial prep pass
  // (pre-execution, no stats) can insert the exchange — on every AQE
  // replan the default cost evaluator counts shuffle exchanges and
  // REJECTS a re-optimized plan whose cost rose, so a late fire is
  // never adopted (verified empirically: with the gate, x81's final
  // plan carried no cut even at threshold 1). The shape-only trigger's
  // worst measured false positive is x44 (tail matches, inputs are a
  // few hundred pruned at-rest rows): +0.35 s of driver replanning —
  // against x81's −3 s and q23's −0.2 s. The `stops` collection is
  // kept for the walk's boundary bookkeeping.

  override def apply(plan: SparkPlan): SparkPlan =
    plan.transformUp {
      case ex @ ShuffleExchangeExec(rp: RangePartitioning, child, _, _)
          if rp.numPartitions > 1 &&
            rp.ordering.forall(_.child.deterministic) &&
            worthCutting(child) =>
        ex.copy(child = ShuffleExchangeExec(
          HashPartitioning(rp.ordering.map(_.child), rp.numPartitions),
          child))
    }
}
