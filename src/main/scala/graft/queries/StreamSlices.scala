package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared replay-scaffolding cut points for the streamed gates (w05/
  * w06): quarter the [min, max] of a millisecond column with ONE
  * aggregate — O(1) driver memory at any corpus size — and assert in
  * the same job that every quarter is non-empty.
  *
  * Why the guard (r21 ADVICE): the gates' results are cut-invariant
  * (any ascending cuts converge), but their NON-VACUITY is not — w05
  * requires 5 non-empty micro-batches, and a replayed empty slice
  * tests nothing. Arithmetic quarters of [min, max] can yield an empty
  * middle slice under timestamp skew (or max − min < 4), which would
  * fail the batch-count require SPURIOUSLY (an empty micro-batch never
  * fires) or silently weaken the replay claim. The old quantile cuts
  * guaranteed non-empty slices but cost a full shuffle + global sort +
  * an O(distinct) driver collect; this keeps the min/max form and
  * makes a degenerate fixture fail HERE, loudly and directed, before
  * anything is written. */
object StreamSlices {

  /** Three ascending cut bounds quartering `ms` over `df`, with each
    * quarter asserted non-empty (two aggregate jobs: the min/max that
    * places the cuts, then the per-quarter counts; `df` should be
    * persisted by the caller — it is about to be sliced four ways). */
  def guardedQuarterCuts(df: DataFrame, ms: Column, tag: String): Seq[Long] = {
    val mnmx = df.agg(min(ms).as("mn"), max(ms).as("mx")).collect().head
    val (mn, mx) = (mnmx.getLong(0), mnmx.getLong(1))
    val bounds = Seq(mn + (mx - mn) / 4, mn + (mx - mn) / 2,
      mn + 3 * (mx - mn) / 4)
    val counts = df.agg(
      sum(when(ms < bounds(0), 1).otherwise(0)).as("q0"),
      sum(when(ms >= bounds(0) && ms < bounds(1), 1).otherwise(0)).as("q1"),
      sum(when(ms >= bounds(1) && ms < bounds(2), 1).otherwise(0)).as("q2"),
      sum(when(ms >= bounds(2), 1).otherwise(0)).as("q3"))
      .collect().head
    (0 until 4).foreach { i =>
      require(counts.getLong(i) > 0,
        s"$tag: arithmetic quarter $i of [min=$mn, max=$mx] is empty — " +
          "the fixture's timestamps are too skewed (or span < 4 ms) for " +
          "interpolated cuts, so the gate's multi-micro-batch replay " +
          "would be vacuous; use a fixture with spread timestamps or " +
          "switch this gate to quantile cuts")
    }
    bounds
  }
}
