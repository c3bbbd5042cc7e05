"""Min-max normalization to a 0-100 "score".

The reference computes ``((v - min) / (max - min)) * 100`` with min and
max collected to the driver via ``.agg(min,max).first`` and re-embedded
as literals (/root/reference/src/main/scala/App.scala:175-201).  That
shape recomputes the upstream lineage twice (it is never cached) and
NPEs on empty input.

Two formulations (plus :func:`minmax_score_auto`, which picks
between them from driver-side stats -- the flagship gate idiom):

* :func:`minmax_score` -- **in-plan broadcast**: the 1-row grand-total
  aggregate is broadcast-cross-joined into the expression.  No driver
  round-trip, safe on empty input -- but the input lineage is
  evaluated twice (once under the aggregate, once on the probe side),
  so use it when ``df`` is a cheap scan.
* :func:`minmax_score_window` -- **single-lineage**: min/max via an
  empty-partition window, so the upstream plan runs exactly once.
  The window gathers all rows into one partition -- only correct when
  ``df`` is already aggregate-sized (per-group summaries: |groups|
  rows).  This is the right default for score-over-aggregate shapes
  like the flagship.

Edge case both must handle (FIXTURES.md): ``max == min`` divides by
zero -> score NULL, never a crash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _score_expr(v, mn, mx):
    # NULL when max == min (reference would emit NaN/Infinity;
    # /root/reference/src/main/scala/App.scala:180-185).
    return F.when(mx != mn, (v - mn) / (mx - mn) * F.lit(100.0))


def minmax_score(df: DataFrame, col: str, out_col: str) -> DataFrame:
    bounds = df.agg(F.min(col).alias("__mn"), F.max(col).alias("__mx"))
    return (
        df.join(F.broadcast(bounds))
        .withColumn(out_col, _score_expr(F.col(col), F.col("__mn"), F.col("__mx")))
        .drop("__mn", "__mx")
    )


def minmax_score_window(df: DataFrame, col: str, out_col: str) -> DataFrame:
    """Single-lineage variant: global min/max via an empty-partition
    window.  ``df`` must be aggregate-sized (all rows land in one
    partition for the window pass) -- enforced in-plan by
    :func:`~location_summary_etl_spark.operators.windows.guarded_unpartitioned`
    (raise_error past 100k rows), sharing the same WindowExec pass.

    The ``coalesce(1)`` below is narrow, so it serializes the caller's
    whole PARENT stage -- everything back to ``df``'s last exchange or
    scan runs as one task, decided statically at plan time -- not only
    the window pass.  Callers must hand in a lineage whose last stage
    is aggregate-sized, not merely a small result."""
    from location_summary_etl_spark.operators.windows import (
        guarded_unpartitioned,
    )

    # r13: the aggregate-sized contract, made STATIC.  coalesce(1) is
    # a narrow dependency whose output partitioning is SinglePartition,
    # so the empty-spec window's exchange disappears from the plan
    # (flagship: 9 -> 8 Exchanges, parity-identical).  The callers'
    # inputs sit above their own aggregate exchange (or a size-gated
    # <=8 MB lineage via minmax_score_auto), so fusing the final step
    # into the window's one task serializes only aggregate-sized work
    # -- the same single task the deleted exchange fed, one stage
    # earlier.  The 100k-row guard still enforces the claim at run
    # time.
    w = Window.partitionBy()
    df = df.coalesce(1)
    return df.withColumn(
        out_col,
        guarded_unpartitioned(
            _score_expr(F.col(col), F.min(col).over(w), F.max(col).over(w)),
            "minmax_score_window input",
        ),
    )


# Auto-gate constants (r8, same idiom as plans/flagship.py): the
# window form funnels every input row into ONE task, so it is gated on
# the lineage's SOURCE bytes staying under a quarter of the broadcast
# cap (32 MB session cap -> 8 MB, ~100-200k parquet rows -- the same
# order as guarded_unpartitioned's 100k-row in-plan tripwire that
# backs this estimate at runtime).  Measured (interleaved A/B, quiet
# windows, min-of-3): the window form WINS at every legal size
# -- 0.14 vs 0.20 s at 7 KB, 0.17 vs 0.19 s at 260 KB source, both
# forms floor-bound -- so unlike the flagship's crossover this gate
# is purely a SAFETY flip: single-lineage while provably small,
# distributed double-scan once the one-task pass could be the thing
# that falls over.  Derived lineages (aggregates, joins) report their
# SOURCE bytes, which over-states the window input -- conservative in
# the safe direction: the broadcast form is always correct, merely
# double-evaluating; callers that KNOW the input is aggregate-sized
# pin use_window=True exactly like the flagship does.
_WINDOW_SOURCE_FRACTION = 4


def minmax_score_auto(df: DataFrame, col: str, out_col: str,
                      use_window: bool | None = None) -> DataFrame:
    """Stats-gated form selection between :func:`minmax_score_window`
    (single-lineage, single-partition window -- right for small /
    aggregate-sized inputs) and :func:`minmax_score` (broadcast
    bounds, double-evaluates the lineage but fully distributed --
    right for large scans).  ``use_window=None`` decides from
    driver-side stats only (no job): source bytes known and under
    ``broadcast_cap/_WINDOW_SOURCE_FRACTION`` -> window form; unknown
    or large -> broadcast form (never a forced single-partition pass
    on an unbounded input).  An explicit bool pins the form, same
    contract as ``flagship_nation_summary(use_window=...)``."""
    from location_summary_etl_spark.operators.gates import gate, source_fits

    use_window = gate(
        use_window,
        lambda: source_fits(df, fraction=_WINDOW_SOURCE_FRACTION))
    if use_window:
        return minmax_score_window(df, col, out_col)
    return minmax_score(df, col, out_col)

