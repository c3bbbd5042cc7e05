"""operators/gates.py -- the single implementation behind every
stats-gated dual-form operator (flagship argmax, minmax_score_auto).
The per-operator flip behavior is covered by their own tests
(test_operators.py, test_plans.py); these pin the shared contract
itself."""

import pytest

from location_summary_etl_spark.operators.gates import gate, source_fits
from location_summary_etl_spark.sources.registry import load_table


def test_gate_pin_wins_and_decide_is_lazy():
    # a pinned form never evaluates the probe
    def boom():
        raise AssertionError("decide() must not run when pinned")

    assert gate(True, boom) is True
    assert gate(False, boom) is False  # falsy pins still win
    assert gate("prefix", boom) == "prefix"
    # deferral evaluates decide exactly once
    calls = []

    def decide():
        calls.append(1)
        return "aggregate"

    assert gate(None, decide) == "aggregate"
    assert calls == [1]


def test_source_fits_thresholds(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    cap_conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(cap_conf)
    try:
        # test-scale file under a huge cap: fits
        spark.conf.set(cap_conf, "1GB")
        assert source_fits(customer)
        # same file over a tiny cap: does not fit
        spark.conf.set(cap_conf, "1KB")
        assert not source_fits(customer)
        # expansion and fraction both tighten the bound: pick a cap
        # where the bare file fits but the scaled estimate does not
        spark.conf.set(cap_conf, "1GB")
        assert not source_fits(customer, expansion=1_000_000)
        assert not source_fits(customer, fraction=1_000_000)
        # explicit cap_bytes bypasses the session conf
        assert source_fits(customer, cap_bytes=1 << 40)
        assert not source_fits(customer, cap_bytes=1)
    finally:
        spark.conf.set(cap_conf, old)


def test_source_fits_unknown_stats_is_false(spark):
    # literal frame: no file lineage -> conservative False at any cap
    lit = spark.createDataFrame([(1,)], "x int")
    assert not source_fits(lit, cap_bytes=1 << 40)


def test_fits_and_path_fits(tmp_path):
    from location_summary_etl_spark.operators.gates import fits, path_fits

    assert fits(100, cap_bytes=100)
    assert not fits(101, cap_bytes=100)
    assert not fits(None, cap_bytes=1 << 40)  # unknown -> conservative
    assert not fits(60, expansion=2, cap_bytes=100)
    assert not fits(60, fraction=2, cap_bytes=100)

    f = tmp_path / "dim.bin"
    f.write_bytes(b"x" * 1000)
    assert path_fits(str(f), cap_bytes=1000)
    assert not path_fits(str(f), cap_bytes=999)
    # directories sum recursively
    sub = tmp_path / "d" / "s"
    sub.mkdir(parents=True)
    (sub / "a.bin").write_bytes(b"x" * 600)
    (tmp_path / "d" / "b.bin").write_bytes(b"x" * 600)
    assert path_fits(str(tmp_path / "d"), cap_bytes=1200)
    assert not path_fits(str(tmp_path / "d"), cap_bytes=1199)
    # unlistable path -> conservative False, not an exception
    assert not path_fits(str(tmp_path / "nope"), cap_bytes=1 << 40)


def test_tiny_dim_bytes_pregate_refuses_before_reading(sf_dir, monkeypatch):
    """compile_tiny_dim must refuse an over-cap path WITHOUT issuing
    the pyarrow read (the r11 migration's point: the old num_rows
    guard fired only after materializing the table on the driver)."""
    import pyarrow.parquet as pq

    from location_summary_etl_spark.sources import registry

    registry.compile_tiny_dim.cache_clear()

    def boom(*a, **k):
        raise AssertionError("pyarrow read must not run over the cap")

    monkeypatch.setattr(pq, "read_table", boom)
    monkeypatch.setattr(registry, "_TINY_DIM_CAP_BYTES", 1)
    try:
        assert registry.compile_tiny_dim(
            sf_dir, "region", ("r_regionkey", "r_name")) is None
    finally:
        registry.compile_tiny_dim.cache_clear()


@pytest.mark.parametrize("mod,names", [
    ("location_summary_etl_spark.plans.flagship",
     ["gate", "source_fits"]),
    ("location_summary_etl_spark.operators.normalize",
     ["minmax_score_auto"]),
    ("location_summary_etl_spark.session",
     ["broadcast_if_small"]),
    ("location_summary_etl_spark.sources.registry",
     ["compile_tiny_dim"]),
])
def test_all_callers_share_one_implementation(mod, names):
    """No caller carries a private copy of the byte compare: each
    imports from operators.gates (flagship at module level; the
    others lazily inside the function body)."""
    import importlib
    import inspect

    m = importlib.import_module(mod)
    if "gate" in names:  # flagship: module-level import
        from location_summary_etl_spark.operators import gates

        assert m.gate is gates.gate
        assert m.source_fits is gates.source_fits
    else:
        src = inspect.getsource(getattr(m, names[0]))
        assert ("operators.gates import gate" in src
                or "operators.gates import source_fits" in src
                or "operators.gates import path_fits" in src)
