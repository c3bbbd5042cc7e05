"""Sampled sf1 oracle soak as a suite leg (r11 VERDICT #4).

The full-corpus sf1 soak (tools/soak_oracle.py -> CORRECTNESS_SF1.json)
is a ~29-minute hand-run; between refreshes, scale correctness could
rot silently.  This leg keeps a canary burning: every suite run picks a
DETERMINISTIC DAY-ROTATED subset of the corpus (the same rotation
``soak_oracle.py --sample N`` uses, so a local `pytest` day and a
`--sample` cron day cover the same slice) and runs the driver-identical
oracle compare at the sf1 tier.  Over ~ceil(165/N) days of runs the
rotation covers the whole corpus; any day's failure names the exact
entry.

Requires the locally-generated tier (``tools/make_scale_tier.py 10`` ->
``bench_tiers/sf1``); hosted CI runners don't have the driver testdata
the tier derives from, so there the leg SKIPS with this message and
scale coverage comes from the committed CORRECTNESS_SF1.json artifact
plus this leg's local cadence.
"""

from __future__ import annotations

import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(_ROOT, "bench_tiers", "sf1")
SAMPLE_N = int(os.environ.get("SCALE_SAMPLE_N", "6"))

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF1),
    reason="bench_tiers/sf1 not generated (run tools/make_scale_tier.py "
           "10); scale sampling only runs on hosts with the tier",
)


def _selection() -> list[str]:
    sys.path.insert(0, os.path.join(_ROOT, "tools"))
    from soak_oracle import sample_selection

    from location_summary_etl_spark.plans import corpus

    return sample_selection(sorted(corpus.queries()), SAMPLE_N)


def test_sampled_sf1_soak(spark):
    sys.path.insert(0, os.path.join(_ROOT, "tools"))
    from soak_oracle import BIG_ROWS, _budgeted_con, compare_large

    from location_summary_etl_spark.plans import corpus
    from tests.oracle_utils import compare

    qs, oracles = corpus.queries(), corpus.oracle_sql()
    failures = []
    for name in _selection():
        try:
            df = qs[name](spark, SF1)
            con = _budgeted_con(SF1)
            try:
                if name in oracles:
                    n_rows = df.count()
                    if n_rows > BIG_ROWS:
                        compare_large(df, con, oracles[name], n_rows)
                    else:
                        compare(df, con, oracles[name])
                else:
                    assert df.count() >= 0
            finally:
                con.close()
        except Exception as e:  # noqa: BLE001 -- report the full slice
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, (
        "sampled sf1 soak divergence (today's rotation slice):\n"
        + "\n".join(failures)
    )
