"""Shared plumbing for stats-gated dual-form operators.

Two operators pick between two physically different but semantically
identical plans from driver-side stats (no Spark job):

* ``plans.flagship.flagship_nation_summary`` -- join-form argmax while
  the max side is a cheap broadcast, window form otherwise;
* ``operators.normalize.minmax_score_auto`` -- single-partition window
  while the lineage is provably small, distributed double-scan
  otherwise.

Each previously carried its own copy of (a) the explicit-override
contract and (b) the scaled source-bytes threshold compare with its
conservative unknown-stats fallback.  This module is the single
implementation; the measured per-operator constants (expansion
factors, cap fractions) stay WITH their operators,
because they are facts about those plans, not about gating.

Two further size-gate sites migrated in r11 (VERDICT #4's remaining
duplication class): ``session.broadcast_if_small`` (the plan-time
broadcast hint) gates on :func:`source_fits`, and
``sources.registry.compile_tiny_dim`` (broadcast-by-compilation)
pre-gates its driver-side pyarrow read on :func:`path_fits` -- every
bytes/threshold compare in the repo now reduces to :func:`fits`.

The reference has no analogue -- it hard-codes one plan shape
(App.scala picks its join strategy implicitly through Spark defaults);
auto-gating is part of the 100 TB posture: a plan that is only correct
while an input is small must prove the input small before it runs.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from location_summary_etl_spark.session import (
    broadcast_cap_bytes,
    source_bytes,
)

T = TypeVar("T")


def gate(pin: T | None, decide: Callable[[], T]) -> T:
    """The explicit-override contract shared by every dual-form
    operator: ``pin`` is the caller's explicit choice (tests, A/Bs,
    callers with knowledge the stats proxy lacks) and wins outright;
    ``None`` defers to ``decide``, which is only evaluated on deferral
    -- so probe jobs and stat listings are never paid when the caller
    has already pinned the form."""
    if pin is not None:
        return pin
    return decide()


def fits(nbytes: int | None, *, expansion: int = 1, fraction: int = 1,
         cap_bytes: int) -> bool:
    """The raw compare every size gate reduces to: KNOWN bytes, scaled
    by ``expansion``, under ``cap_bytes // fraction``; unknown bytes
    (``None``) conservatively fail.  Callers that already hold a byte
    count (or obtain it off-DataFrame, see :func:`path_fits`) use this
    directly; DataFrame lineages go through :func:`source_fits`."""
    if nbytes is None:
        return False
    return nbytes * expansion <= cap_bytes // fraction


def path_fits(path: str, *, expansion: int = 1, fraction: int = 1,
              cap_bytes: int) -> bool:
    """:func:`fits` over a filesystem path (file, or directory summed
    recursively) -- the gate for driver-side readers that decide
    BEFORE any table object exists (e.g. ``registry.compile_tiny_dim``
    must refuse to pyarrow-read an oversized file at all, not discover
    the overage after materializing it on the driver).  ``cap_bytes``
    is required: with no session in hand there is no conf to default
    from.  Unlistable paths fail conservatively, like unknown stats."""
    import os

    try:
        if os.path.isdir(path):
            b = sum(os.path.getsize(os.path.join(dp, fn))
                    for dp, _dns, fns in os.walk(path) for fn in fns)
        else:
            b = os.path.getsize(path)
    except OSError:
        return False
    return fits(b, expansion=expansion, fraction=fraction,
                cap_bytes=cap_bytes)


def source_fits(df, *, expansion: int = 1, fraction: int = 1,
                cap_bytes: int | None = None) -> bool:
    """True when the lineage's source bytes are KNOWN and, scaled by
    ``expansion``, stay under ``cap_bytes // fraction``.

    The one byte-threshold compare behind every size gate:

    * ``expansion`` models compressed-parquet -> in-memory blow-up of
      the structure the gated plan would build (e.g. the flagship's
      measured ~4x HashedRelation expansion);
    * ``fraction`` is the safety margin under the cap (a near-cap
      broadcast is already a losing plan, and at 1000 executors it is
      cap x executors of aggregate network traffic);
    * ``cap_bytes`` defaults to the session's
      autoBroadcastJoinThreshold -- the repo-wide broadcast policy --
      so tuning one session conf moves every gate coherently.

    Unknown stats (non-file source, unlistable path) return False:
    callers must arrange that False selects the plan that is safe at
    ANY size.  Same proxy caveat as ``session.source_bytes``: the
    estimate is the lineage's INPUT bytes, so callers must not pass
    expanding relations (explode, fan-out joins).
    """
    if cap_bytes is None:
        cap_bytes = broadcast_cap_bytes(df.sparkSession)
    return fits(source_bytes(df), expansion=expansion,
                fraction=fraction, cap_bytes=cap_bytes)
