package graft.algo

import org.apache.spark.sql.DataFrame

/** A completed multi-source BFS, read through aggregates only: each source's
  * exact farness and the per-target sums and maxima of the sampling
  * estimators (SURVEY.md A1, A8, A9). [[MultiBfs.visit]] implements it over
  * the (pivot, id, dist) rows, [[BitsetBfs.Visit]] over packed mask tiles;
  * [[Visit.Selector]] picks one.
  */
trait Visit {
  /** (id, farness: Long): Σ_v d(source, v) per source. */
  def farness: DataFrame

  /** (id, value): per target v, Σ_s d(s, v) / div(s) over the sources that
    * `divisors` (pivot, div: Double) lists; targets no listed source
    * reaches are absent.
    */
  def reverseSum(divisors: DataFrame): DataFrame

  /** (id, value): per target v, max_s d(s, v) / div(s), keyed as [[reverseSum]]. */
  def reverseMax(divisors: DataFrame): DataFrame

  /** Free the visit's cached state; call once every aggregate read from it
    * is materialized.
    */
  def release(): Unit
}

object Visit {

  /** P·n above which a P-source visit over n vertices takes the bitset
    * form. Package-private VAR so specs can lower it and run a caller's
    * bitset branches on a small graph (the `smallPivotCap` pattern).
    */
  private[graft] var bitsetAbove: Long = 1L << 25

  /** The one place that picks the form of a visit over `adjacency` (n
    * vertices), by the size of the (source, vertex) relation — the decision
    * structure of broadcast-vs-shuffle join planning. The row form
    * materializes the O(P·n) relation: cheap while it fits (simple 4-column
    * plans, no per-wave fixed cost). The bitset form keeps every superstep
    * and aggregate at O(n·maskCols) rows for any P, but pays a fixed
    * per-visit plan/codegen cost for its 64·maskCols-expression aggregates —
    * measured ~3× slower at P·n ≈ 2·10⁷, and the only form that survives at
    * P·n of 10¹² and beyond.
    *
    * Farness is an exact Long in both forms. The reverse aggregates agree up
    * to FP re-association (the row form divides d / div, the bitset form
    * multiplies d by a reciprocal pre-reduced on the driver), so estimates
    * are not bit-identical across forms; a certified top-k is exact either
    * way.
    *
    * Every visit plans on `adjacency`'s session and binds its result to it.
    * Inside a run (Chechik, Progressive) that is the run's loop session
    * ([[graft.core.Supersteps.session]]): row visits loop on it, and bitset
    * visits share one [[BitsetBfs.Prep]], built on the first of them and
    * freed by [[release]], and loop on the bitset session its `prepare`
    * cloned from the run's once. Every visit stops only at its empty
    * frontier; `onSuperstep` sees all.
    */
  final class Selector(
      adjacency: DataFrame,
      n: Long,
      onSuperstep: (Int, Long) => Unit = (_, _) => ()) {
    private var prep: BitsetBfs.Prep = null

    private def useBitset(sources: Long): Boolean = sources * n > bitsetAbove

    /** Mask columns sized to the source count (≤ 16, the bitset cap). */
    private def maskColsFor(sources: Long): Int =
      math.max(1L, math.min(16L, (sources + 63) / 64)).toInt

    /** Visit from `sources` (one column `pivot`), at most `count` of them. */
    def apply(sources: DataFrame, count: Long): Visit =
      if (useBitset(count)) {
        if (prep == null) prep = BitsetBfs.prepare(adjacency)
        BitsetBfs.visit(adjacency.sparkSession, adjacency, sources, maskCols = maskColsFor(count),
          onSuperstep = onSuperstep, prep = prep)
      } else MultiBfs.visit(adjacency.sparkSession, adjacency, sources, onSuperstep)

    def release(): Unit = if (prep != null) { prep.release(); prep = null }
  }
}
