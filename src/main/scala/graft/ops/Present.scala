package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Presentation-order helper (round 17, optimization guide §2.4).
  *
  * Every harness query ends in a total-order `ORDER BY` so its output
  * is deterministic for the oracle gate. A global `orderBy` is a RANGE
  * sort: Spark first runs a separate SAMPLING job over the sort's
  * child to pick range bounds, then shuffles. When the child is a
  * heavy narrow pipeline (per-row decode/tokenize/regex work straight
  * off the scan — the projection-shaped queries), the sampling pass
  * RECOMPUTES that whole pipeline, so the final sort roughly doubles
  * the query (measured at sf0.1: q50_text_stats 1.59 s with the range
  * sort vs 0.45 s without; q115_pii_redact 1.25 → 0.41; q168_png_decode
  * 1.21 → 0.39 — ProbeFixed, OPTIMIZATION_r17.md).
  *
  * [[by]] keeps the IDENTICAL total order while skipping the sampling
  * pass: one round-robin exchange into a single partition, then the
  * same sort run locally. Result rows AND row order are unchanged
  * (the keys are total orders — audited per converted query by
  * ProbeSortKeys and pinned by PresentSpec), only the physical plan
  * changes (Sort[global] + range Exchange + sampling job → 1-partition
  * Exchange + Sort[local]).
  *
  * Scale shape: a presentation sort runs on RESULT-sized data — the
  * single-partition sort is the standard small-result shape. A query
  * whose result is itself corpus-sized keeps the range sort (or, in
  * production, drops presentation order entirely — SCALE.md "known
  * trade-offs"); this helper is only applied where the result fits a
  * task comfortably.
  */
object Present {

  implicit class PresentOps(private val df: DataFrame) extends AnyVal {

    /** `orderBy(cols)` with the range-sampling pass removed — same
      * rows, same total order, one fewer pass over the child.
      *
      * ONLY for result-sized frames (top-k lists, per-group
      * aggregates): the single-partition sort is the standard
      * small-result shape. A per-row (corpus-sized) result MUST use
      * [[presentLargeBy]] instead — `repartition(1)` funnels the whole
      * corpus through one task at scale (r17 verdict #1). */
    def presentBy(cols: String*): DataFrame =
      presentByCols(cols.map(col): _*)

    /** [[presentBy]] for explicit sort-order columns (desc, etc.). */
    def presentByCols(order: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(order: _*)

    /** Presentation `orderBy(cols)` for CORPUS-SIZED results (one row
      * per document/event/media/vector): the scale-safe range sort is
      * KEPT — the result stays distributed across range partitions,
      * never funneled through one task — and the range-sampling pass's
      * child recompute is removed instead, by materializing the child
      * once (lazy localCheckpoint; the sampling job computes and
      * persists the blocks, the sort reads them back — guide §3.3's
      * "materialise an intermediate", applied to §2.4's duplicated
      * sort child). Same rows, same total order as a plain `orderBy`;
      * the plan shows `Exchange rangepartitioning` over a
      * `Scan ExistingRDD` leaf instead of over a second copy of the
      * operator pipeline.
      *
      * Tradeoff: `localCheckpoint` gives up lineage recovery — if an
      * executor holding checkpointed blocks is lost, the query fails
      * instead of recomputing them — and the blocks stay pinned for the
      * life of the session unless the caller unpersists them (Bench
      * does, between queries). */
    def presentLargeBy(cols: String*): DataFrame =
      presentLargeByCols(cols.map(col): _*)

    /** [[presentLargeBy]] for explicit sort-order columns. */
    def presentLargeByCols(order: Column*): DataFrame =
      df.localCheckpoint(eager = false).orderBy(order: _*)
  }
}
