"""Latest-snapshot (greatest-n-per-group) operators.

The reference keeps only the newest snapshot of every fact, two ways:

* per-group argmax via a 3-way join back onto a ``MAX(date) .. GROUP
  BY`` CTE (/root/reference/src/main/scala/App.scala:27-48);
* global latest snapshot via an uncorrelated scalar subquery
  ``WHERE dd.date = (SELECT max_date ...)`` (:57-75, :82-93, :115-133,
  :140-165).

Both formulations are implemented here.  At scale the window form does
one shuffle on the group keys (partial max is combined map-side by the
aggregate inside the window's sort), while the join form shuffles the
fact twice (once for the max-aggregate, once for the join) unless the
aggregated side is broadcast -- we broadcast it when the group-key
cardinality is dimension-like.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_snapshot_window(df: DataFrame, keys: list[str],
                           date_col: str) -> DataFrame:
    """Keep rows where ``date_col`` equals the per-``keys`` maximum
    (ties kept -- identical to the reference's join-on-max semantics).

    Idiomatic Spark formulation of the 3-way-join argmax at
    /root/reference/src/main/scala/App.scala:41-48.
    """
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__max_date", F.max(date_col).over(w))
        .filter(F.col(date_col) == F.col("__max_date"))
        .drop("__max_date")
    )


def latest_snapshot_join(df: DataFrame, keys: list[str], date_col: str,
                         broadcast_max: bool = True) -> DataFrame:
    """Same semantics as :func:`latest_snapshot_window`, expressed as
    the reference's CTE + multi-key equi-join
    (/root/reference/src/main/scala/App.scala:27-48).

    ``broadcast_max=True`` broadcasts the (keys, max_date) aggregate --
    correct whenever the distinct key count is dimension-sized, and it
    turns the second shuffle into a map-side hash join.
    """
    # Rename the aggregate's key columns so the self-derived join has no
    # ambiguous attributes.
    maxes = (
        df.groupBy(*keys).agg(F.max(date_col).alias("__max_date"))
        .select(*[F.col(k).alias(f"__k_{k}") for k in keys], "__max_date")
    )
    if broadcast_max:
        maxes = F.broadcast(maxes)
    cond = [F.col(k) == F.col(f"__k_{k}") for k in keys]
    cond.append(F.col(date_col) == F.col("__max_date"))
    joined = df.join(maxes, cond, "inner")
    return joined.drop("__max_date", *[f"__k_{k}" for k in keys])


def global_latest_filter(df: DataFrame, date_col: str) -> DataFrame:
    """Rows at the single global max of ``date_col`` -- the reference's
    uncorrelated scalar subquery (``WHERE dd.date = (SELECT max_date
    FROM max_snapshot_date)``, /root/reference/src/main/scala/App.scala:70,
    :91, :128, :163).

    Kept fully in-plan: a 1-row grand-total aggregate cross-joined
    (auto-broadcast) into the filter, so nothing is collected to the
    driver and the optimizer sees one lineage.
    """
    mx = df.agg(F.max(date_col).alias("__global_max"))
    return (
        df.join(F.broadcast(mx))
        .filter(F.col(date_col) == F.col("__global_max"))
        .drop("__global_max")
    )

