"""Full-corpus oracle soak at a chosen scale tier (r10 VERDICT #1).

The driver's correctness gate and its local replica run at
sf0.01/sf0.001 -- toy scales where the machinery the engine is
proudest of (default-on dedup caps, the IVF hot-cell guard, AQE's
runtime SMJ->SHJ conversion, float accumulation over large groups)
never actually bites.  This tool runs EVERY oracle-paired corpus
entry, Spark vs DuckDB, at a self-generated tier (default
bench_tiers/sf1: 10x the sf0.1 testdata, re-keyed -- 6M lineitem,
50k documents, 20k embeddings) with the exact comparison the driver
uses (tests/oracle_utils.compare: row count + column names +
order-insensitive value hash).

The comparison itself has to scale with the tier: several entries
return O(input) rows (events_user_gapfill is 65M at sf1), and the
driver's collect-into-Python-tuples compare is a driver-side loop --
exactly the anti-pattern the engine bans in query plans.  Past
``BIG_ROWS`` the soak switches to an engine-side compare: Spark
writes its result to temp parquet (distributed write), DuckDB reads
it next to the oracle relation, and multiset equality is one
``EXCEPT ALL`` in each direction over normalized columns (floats
through ``printf('%.9g')`` -- the same 9-significant-digit
granularity ``oracle_utils._norm`` uses, integers widened to
HUGEINT, everything else through VARCHAR).  Both sides normalize in
the SAME engine, so no cross-engine formatting subtleties enter; no
rows ever land in Python.

RESOURCE HYGIENE (r12, after the sf10 run died of disk exhaustion):
the r11 sf10 subset soak lost 4/28 entries to ENOSPC/OOM -- two in
Spark's own shuffle and two in the ORACLE, because DuckDB ran with
no memory or temp budget on the same volume Spark was shuffling on.
This tool now applies its own anti-pattern discipline to the oracle:

* DuckDB gets an explicit ``memory_limit`` (env ``SOAK_DUCKDB_MEM``,
  default 24GB) and a dedicated ``temp_directory`` under the scratch
  root, swept after every entry -- and the temp is CAPPED
  (``max_temp_directory_size``, env ``SOAK_DUCKDB_TEMP_GB``, default
  60% of free space at entry start), so an oracle whose intermediate
  exceeds the volume fails as a recorded per-entry DNF instead of
  taking the host to zero bytes free.
* If an entry ERROR leaves the driver JVM dead (liveness-probed), the
  soak FAIL-STOPS instead of burning every remaining entry on an
  unusable session; completed rows stay in the artifact and
  ``--resume`` continues the run.
* Spark's shuffle scratch (``spark.local.dir``) is pinned under the
  same scratch root so leftover files are visible and measurable;
  between entries the JVM is nudged (ContextCleaner runs off GC) and
  the temp-parquet compare dirs are swept.
* Every entry records a RESOURCE PROFILE in the artifact: free disk
  at entry start, the minimum free disk observed while it ran (a
  0.25 s sampler thread -- the high-water scratch mark), and the
  per-entry delta of Spark's own stage metrics (shuffle read/write
  bytes, disk/memory spill, input/output bytes) read from the
  monitoring REST API.  An entry that dies of ENOSPC therefore
  leaves behind its measured footprint, not just a stack trace.

STRIPED ORACLE COMPARE (r12): the pair-relation oracles (n-gram
Jaccard, MinHash LSH) evaluate a quadratic candidate join whose
grouped intermediate at the 100x tier exceeds ANY one-shot DuckDB
temp budget this sandbox can grant (measured: >60 GB temp with 48 GB
RAM at sf10, where the engine under test finishes inside a 30 GB
striped scratch budget).  For those entries the COMPARE gets the
same scratch discipline the engine itself uses: the oracle is
evaluated in K passes, each restricted to ``pmod(id_a, K) = k`` --
a predicate on the pair's lower doc id that DuckDB pushes through
the final joins, the GROUP BY (id_a is a grouping key), and into
the candidate join's probe side, so each pass builds ~1/K of the
intermediate.  The K result slices PARTITION the output multiset
(id_a is non-null in every pair row), so per-stripe symmetric
EXCEPT ALL counts sum to the full compare, and the per-stripe
Spark-side counts are cross-checked against the unrestricted
``df.count()`` -- a stripe predicate that dropped or duplicated
rows would be caught, not silently accepted.  Striping engages via
the SAME driver-side gate the engine's own scratch striping uses
(documents source past NGRAM_STAGE_SOURCE_FLOOR), so sf0.01/sf1
soak artifacts are produced by the byte-identical one-shot path;
the artifact records ``compare: striped_except_all_k{K}`` where it
engaged.  K defaults to 8 (env ``SOAK_ORACLE_STRIPE_K``).  Banded
oracle shapes (MinHash/SimHash) defeat DuckDB's outer-predicate
pushdown; for those the predicate is injected at id_a's binding
site in the candidate join instead (``ORACLE_STRIPE_INNER_NEEDLE``
-- the identical restriction, and the count cross-checks prove the
partitioning empirically either way).

ARTIFACT SELF-DESCRIPTION (r12): the artifact always carries
``corpus_entries`` (the full registry size) next to ``n_entries``
(what THIS artifact covers), so a subset run can never read as a
full pass.  With ``--only``, prior results for entries OUTSIDE the
selection are merged through from an existing OUT_JSON rather than
dropped (the r11 behavior silently destroyed the out-of-scope rows),
and the run's ``selection`` is recorded.  Merging across tiers is
refused: if OUT_JSON was produced for a different ``sf_dir`` the
tool exits rather than mixing tiers in one artifact.

Usage:
    python tools/soak_oracle.py [SF_DIR] [OUT_JSON] [--resume]
                                [--only n1,n2,...] [--sample N]
        SF_DIR   default bench_tiers/sf1
        OUT_JSON default CORRECTNESS_SF1.json
        --resume skip entries already green in OUT_JSON (re-runs
                 divergent/errored ones); artifact is rewritten
                 after EVERY entry either way, so a killed soak
                 loses at most the entry in flight.
        --only   run only the named entries (comma-separated) --
                 for targeted soaks at tiers where the full corpus
                 is impractical (e.g. sf10).
        --sample deterministic rotating subset of N entries: entry
                 list sorted, rotated by day-of-year, first N taken
                 -- a CI-sized scale-correctness canary that cycles
                 through the whole corpus over ~ceil(165/N) days
                 without ever re-picking the same slice two days
                 running.  Implies the --only merge semantics.

Writes one JSON artifact in the driver's CORRECTNESS format (plus
per-entry wall times and resource profiles) and prints a one-line
summary.  Entries are run in registration order; a failure records
the error and moves on -- the soak's job is the complete divergence
list, not an early exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import traceback
import urllib.request
import uuid

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Above this row count the collect-based compare is replaced by the
# parquet + EXCEPT ALL path (a 2M-row collect is ~1 GB of Python
# tuples; DuckDB diffs the same rows in seconds, constant memory).
BIG_ROWS = 2_000_000

# All soak scratch (Spark shuffle dirs, DuckDB temp, compare parquet)
# lives under one root so it can be measured and swept as a unit.
SCRATCH = os.environ.get("SOAK_SCRATCH", "/tmp/soak_scratch")
DUCKDB_MEM = os.environ.get("SOAK_DUCKDB_MEM", "24GB")
UI_PORT = int(os.environ.get("SOAK_UI_PORT", "4049"))

# Pair-relation entries whose oracle needs the striped compare at
# tiers where the documents source crosses the engine's own scratch
# floor (see the module docstring).  The column is the stripe key:
# the pair's lower doc id, non-null by construction in every row.
# Only the n-gram family stripes: its pair-count GROUP BY output is
# genuinely quadratic in the corpus (the temp hog no budget fits).
# The banded MinHash/SimHash oracles turned out to need no striping
# at all once their shared CTEs were MATERIALIZED (corpus_dedup.py):
# their candidate volume is linear-ish (88M pairs at sf10, census),
# and the >64 GiB temp that looked like a quadratic blowup was
# DuckDB re-running the INLINED shingle pipeline once per CTE
# reference -- six concurrent ~15 GB DISTINCT spills.  Materialized,
# the sf10 minhash oracle one-shots in 51 s under a 25 GB grant.
ORACLE_STRIPE_COLS = {
    "dedup_ngram_jaccard": "id_a",
    "dedup_ngram_jaccard_auto": "id_a",
    "dedup_ngram_jaccard_uncapped": "id_a",
    "dedup_ngram_jaccard_capped": "id_a",
}
ORACLE_STRIPE_K = int(os.environ.get("SOAK_ORACLE_STRIPE_K", "8"))

# For the n-gram oracles DuckDB pushes the outer ``pmod(id_a, K)``
# predicate through the GROUP BY into the pair join (measured 0.10x
# full cost per 1/8 stripe at sf1), so the wrapped form above is all
# they need.  The banded oracles (MinHash LSH, SimHash) defeat that
# pushdown: the optimizer leaves the stripe predicate ABOVE the two
# signature joins (measured 3.3x FULL cost per stripe at sf1 -- worse
# than no striping, and at sf10 the unpruned candidate-DISTINCT blew
# a 56 GiB temp cap from the very first stripe).  For those entries
# the predicate is instead injected at the id_a BINDING SITE -- the
# candidate join's ``a.doc_id < b.doc_id`` condition, where
# ``id_a := a.doc_id`` is defined one projection above -- which is
# the identical restriction expressed where the engine can use it.
# The needle must occur exactly once in the oracle text (asserted),
# and the per-stripe count cross-checks in compare_large_striped
# prove partition coverage empirically either way.
ORACLE_STRIPE_INNER_NEEDLE = {
    "dedup_minhash_lsh": "a.doc_id < b.doc_id",
    "dedup_minhash_lsh_uncapped": "a.doc_id < b.doc_id",
    "dedup_minhash_lsh_capped": "a.doc_id < b.doc_id",
    "dedup_simhash_pairs": "a.doc_id < b.doc_id",
}

_METRIC_FIELDS = (
    "shuffleWriteBytes", "shuffleReadBytes",
    "diskBytesSpilled", "memoryBytesSpilled",
    "inputBytes", "outputBytes",
)


def _norm_sql(view: str, cols: list[str], types: dict[str, str]) -> str:
    """SELECT list normalizing VIEW's columns (sorted by name) to
    engine-stable lexical forms, mirroring oracle_utils._norm."""
    parts = []
    for c in sorted(cols):
        t = types[c].upper()
        q = f'"{c}"'
        if "FLOAT" in t or "DOUBLE" in t or "DECIMAL" in t or "REAL" in t:
            parts.append(f"printf('%.9g', CAST({q} AS DOUBLE)) AS {q}")
        elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                   "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
            parts.append(f"CAST({q} AS HUGEINT) AS {q}")
        else:
            parts.append(f"CAST({q} AS VARCHAR) AS {q}")
    return f"SELECT {', '.join(parts)} FROM {view}"


def compare_large(df, con, sql: str, n_spark: int) -> None:
    """Engine-side multiset compare: same contract as
    oracle_utils.compare (column names -> row count -> values), with
    assertion messages the artifact classifier understands."""
    tmp = os.path.join(SCRATCH, f"soak_{uuid.uuid4().hex}")
    try:
        df.write.mode("overwrite").parquet(tmp)
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW _spark AS "
            f"SELECT * FROM '{tmp}/*.parquet'")
        con.execute(f"CREATE OR REPLACE TEMP VIEW _oracle AS {sql}")
        s_desc = {r[0]: r[1] for r in con.execute("DESCRIBE _spark").fetchall()}
        d_desc = {r[0]: r[1] for r in con.execute("DESCRIBE _oracle").fetchall()}
        assert sorted(s_desc) == sorted(d_desc), (
            f"column mismatch: spark={sorted(s_desc)} duckdb={sorted(d_desc)}"
        )
        n_oracle = con.execute("SELECT count(*) FROM _oracle").fetchone()[0]
        assert n_spark == n_oracle, (
            f"row count mismatch: spark={n_spark} duckdb={n_oracle}"
        )
        cols = list(s_desc)
        sel_s = _norm_sql("_spark", cols, s_desc)
        sel_o = _norm_sql("_oracle", cols, d_desc)
        n_diff = con.execute(
            f"SELECT count(*) FROM (({sel_s} EXCEPT ALL ({sel_o})) "
            f"UNION ALL (({sel_o}) EXCEPT ALL ({sel_s})))").fetchone()[0]
        assert n_diff == 0, (
            f"value mismatch ({n_diff} rows in the symmetric EXCEPT ALL)"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _split_ctes(sql: str) -> tuple[list[tuple[str, str, bool]], str]:
    """Split a corpus oracle's top-level WITH-chain into
    ``([(name, body, is_materialized)], final_select)``.

    Handles exactly the shape the corpus generator emits: one
    top-level ``WITH``, CTEs ``name AS [MATERIALIZED] ( body )``
    separated by commas, then the final SELECT.  Bodies may nest
    parentheses and contain single-quoted literals (skipped).  A SQL
    with no top-level WITH returns ``([], sql)``."""
    s = sql
    i = 0
    n = len(s)

    def _skip_ws(j: int) -> int:
        while j < n and s[j].isspace():
            j += 1
        return j

    i = _skip_ws(i)
    if s[i:i + 4].upper() != "WITH" or (i + 4 < n and not s[i + 4].isspace()):
        return [], sql
    i += 4
    ctes: list[tuple[str, str, bool]] = []
    while True:
        i = _skip_ws(i)
        j = i
        while j < n and (s[j].isalnum() or s[j] == "_"):
            j += 1
        name = s[i:j]
        assert name, f"CTE name expected at offset {i}"
        i = _skip_ws(j)
        assert s[i:i + 2].upper() == "AS", f"AS expected after CTE {name}"
        i = _skip_ws(i + 2)
        mat = False
        if s[i:i + 12].upper() == "MATERIALIZED":
            mat = True
            i = _skip_ws(i + 12)
        assert s[i] == "(", f"( expected after CTE {name}"
        depth = 0
        k = i
        while k < n:
            c = s[k]
            if c == "'":  # skip string literal ('' is an escaped quote)
                k += 1
                while k < n:
                    if s[k] == "'":
                        if k + 1 < n and s[k + 1] == "'":
                            k += 2
                            continue
                        break
                    k += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        assert depth == 0, f"unbalanced parens in CTE {name}"
        ctes.append((name, s[i + 1:k].strip(), mat))
        i = _skip_ws(k + 1)
        if s[i] == ",":
            i += 1
            continue
        return ctes, s[i:]


def _materialize_ctes(con, sql: str) -> str:
    """CREATE TEMP TABLE for every ``AS MATERIALIZED`` CTE of SQL, in
    definition order, and return the per-stripe remainder (the final
    SELECT under a WITH of only the non-materialized CTEs).

    Why: ``AS MATERIALIZED`` dedups CTE references WITHIN one query,
    but the striped compare runs K separate queries -- each pass was
    re-running the whole shingle pipeline (r12 run e: the capped
    n-gram oracle's per-pass spill, tri DISTINCT + document-frequency
    join, exceeded a 70 GB grant that its own pair stage fits easily).
    Materializing the marked CTEs once per connection makes each pass
    pay only its own (striped) pair join.  Bodies are taken verbatim
    from the entry's committed oracle_sql, so the compared relation is
    unchanged."""
    ctes, final = _split_ctes(sql)
    if not any(mat for _, _, mat in ctes):
        return sql
    pending: list[tuple[str, str]] = []  # non-materialized defs so far
    for name, body, mat in ctes:
        if not mat:
            pending.append((name, body))
            continue
        prefix = ""
        if pending:
            defs = ", ".join(f"{n2} AS ({b})" for n2, b in pending)
            prefix = f"WITH {defs} "
        t0 = time.time()
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS "
                    f"{prefix}{body}")
        print(f"    oracle CTE {name} materialized in "
              f"{time.time() - t0:.0f}s", flush=True)
    if pending:
        defs = ", ".join(f"{n2} AS ({b})" for n2, b in pending)
        return f"WITH {defs} {final}"
    return final


def _oracle_stripe_col(name: str, sf_dir: str) -> str | None:
    """Stripe key for NAME's oracle compare, or None for the one-shot
    path.  Gated on the same driver-side file stat the engine's own
    scratch striping uses, so compares below the floor are
    byte-identical to every earlier artifact's."""
    col = ORACLE_STRIPE_COLS.get(name)
    if not col:
        return None
    from location_summary_etl_spark.operators.dedup import (
        NGRAM_STAGE_SOURCE_FLOOR,
    )
    from location_summary_etl_spark.operators.gates import path_fits
    from location_summary_etl_spark.sources.registry import table_path

    if path_fits(table_path(sf_dir, "documents"),
                 cap_bytes=NGRAM_STAGE_SOURCE_FLOOR):
        return None
    return col


def compare_large_striped(df, con, sql: str, n_spark: int,
                          stripe_col: str, k_stripes: int,
                          inner_needle: str | None = None,
                          parked: str | None = None) -> None:
    """compare_large in K bounded passes (module docstring): each pass
    materializes the oracle slice ``pmod(stripe_col, K) = k`` to a
    temp table (ONE oracle evaluation per pass, with the stripe
    predicate pushed into the candidate join), diffs it against the
    same slice of the Spark result, and drops it.  Per-stripe counts
    are summed and checked against the unrestricted totals, so the
    stripes provably partition both multisets.

    ``inner_needle`` (ORACLE_STRIPE_INNER_NEEDLE): for oracle shapes
    whose optimizer will not push the outer predicate, the stripe
    predicate on ``a.doc_id`` (= the output's ``stripe_col``, bound
    one projection above the needle) is injected into the candidate
    join condition instead.

    ``parked``: a parquet dir the caller already wrote the Spark
    result to (so it could release the engine's scratch BEFORE the
    oracle's temp grant was sized -- see _release_spark_scratch).
    The caller keeps ownership of that dir; without it this function
    writes and removes its own."""
    own_tmp = parked is None
    tmp = parked or os.path.join(SCRATCH, f"soak_{uuid.uuid4().hex}")
    try:
        if own_tmp:
            df.write.mode("overwrite").parquet(tmp)
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW _spark AS "
            f"SELECT * FROM '{tmp}/*.parquet'")
        # Shared pipeline ONCE per connection, pair stage K times
        # (see _materialize_ctes); the needle lives in a CTE body
        # that survives the rewrite verbatim.
        sql = _materialize_ctes(con, sql)
        con.execute(f"CREATE OR REPLACE TEMP VIEW _oracle AS {sql}")
        s_desc = {r[0]: r[1] for r in con.execute("DESCRIBE _spark").fetchall()}
        d_desc = {r[0]: r[1] for r in con.execute("DESCRIBE _oracle").fetchall()}
        assert sorted(s_desc) == sorted(d_desc), (
            f"column mismatch: spark={sorted(s_desc)} duckdb={sorted(d_desc)}"
        )
        cols = list(s_desc)
        q = f'"{stripe_col}"'
        if inner_needle is not None:
            assert sql.count(inner_needle) == 1, (
                f"stripe needle {inner_needle!r} must occur exactly once "
                f"in the oracle SQL (found {sql.count(inner_needle)})")
        n_oracle = n_spark_striped = n_diff = 0
        for k in range(k_stripes):
            pred = (f"(CAST({q} AS BIGINT) % {k_stripes} + {k_stripes}) "
                    f"% {k_stripes} = {k}")
            if inner_needle is not None:
                pred_a = (f"(CAST(a.doc_id AS BIGINT) % {k_stripes} "
                          f"+ {k_stripes}) % {k_stripes} = {k}")
                sliced = sql.replace(
                    inner_needle, f"{inner_needle} AND {pred_a}")
                con.execute(
                    f"CREATE OR REPLACE TEMP TABLE _om AS {sliced}")
            else:
                con.execute(
                    f"CREATE OR REPLACE TEMP TABLE _om AS "
                    f"SELECT * FROM _oracle WHERE {pred}")
            con.execute(
                f"CREATE OR REPLACE TEMP VIEW _sm AS "
                f"SELECT * FROM _spark WHERE {pred}")
            n_oracle += con.execute(
                "SELECT count(*) FROM _om").fetchone()[0]
            n_spark_striped += con.execute(
                "SELECT count(*) FROM _sm").fetchone()[0]
            sel_s = _norm_sql("_sm", cols, s_desc)
            sel_o = _norm_sql("_om", cols, d_desc)
            n_diff += con.execute(
                f"SELECT count(*) FROM (({sel_s} EXCEPT ALL ({sel_o})) "
                f"UNION ALL (({sel_o}) EXCEPT ALL ({sel_s})))"
            ).fetchone()[0]
            con.execute("DROP TABLE _om")
            print(f"    stripe {k + 1}/{k_stripes} compared "
                  f"({n_oracle} oracle rows so far)", flush=True)
        # The stripes must partition the Spark result exactly: a NULL
        # stripe key (or a predicate bug) shows up as a shortfall here,
        # never as a silent pass.
        assert n_spark_striped == n_spark, (
            f"row count mismatch: stripe union covered {n_spark_striped} "
            f"of spark={n_spark} rows (null/dropped stripe key?)"
        )
        assert n_spark == n_oracle, (
            f"row count mismatch: spark={n_spark} duckdb={n_oracle}"
        )
        assert n_diff == 0, (
            f"value mismatch ({n_diff} rows in the symmetric EXCEPT ALL)"
        )
    finally:
        if own_tmp:
            shutil.rmtree(tmp, ignore_errors=True)


def _recap_temp(con) -> float:
    """(Re-)size DuckDB's temp cap from the disk that is free RIGHT
    NOW, minus a fixed landing margin.  A cap granted at connect time
    is a promise the volume may no longer back once the entry's Spark
    phase has parked its scratch (r12 run c: a 60 GB env cap met a
    volume with ~70 GB free and took it to 0 bytes mid-stripe -- an
    IOException instead of the budgeted DNF).  Called again just
    before the compare, when the entry's Spark footprint is parked
    and measurable.  Env ``SOAK_DUCKDB_TEMP_GB`` acts as a CEILING on
    the dynamic value, never a grant beyond it."""
    free_gb = shutil.disk_usage(SCRATCH).free / 1e9
    cap_gb = max(4.0, free_gb - 12.0)
    env = os.environ.get("SOAK_DUCKDB_TEMP_GB")
    if env:
        cap_gb = min(cap_gb, float(env))
    con.execute(f"SET max_temp_directory_size = '{cap_gb:.0f}GB'")
    return cap_gb


def _release_spark_scratch(spark, timeout_s: float = 90.0) -> None:
    """Reclaim the entry's Spark disk footprint BEFORE the oracle's
    temp grant is sized (r12 run d: the striped n-gram plan runs its
    passes eagerly through localCheckpoint, so the result df IS ~50 GB
    of parked checkpoint blocks -- _recap_temp saw 27 GB free on a
    volume that had 77 GB the moment the session stopped, granted
    DuckDB 21.9 GB, and the oracle DNF'd at 20.4 GiB used).  Once the
    caller has parked the result to compare parquet, those blocks are
    dead weight: unpersist every persisted/checkpointed RDD, drop
    cached relations, then nudge the JVM GC so ContextCleaner deletes
    the now-unreachable shuffle files, and wait (bounded) until the
    volume's free space stops growing."""
    sc = spark.sparkContext
    try:
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001
        pass
    try:
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
    except Exception:  # noqa: BLE001
        pass
    import gc as _pygc
    _pygc.collect()
    deadline = time.time() + timeout_s
    last = shutil.disk_usage(SCRATCH).free
    quiet = 0
    while time.time() < deadline and quiet < 2:
        try:
            sc._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass
        time.sleep(3.0)
        cur = shutil.disk_usage(SCRATCH).free
        quiet = quiet + 1 if cur - last < 128 * 1024 * 1024 else 0
        last = cur


def _budgeted_con(sf_dir: str):
    """tests.oracle_utils.duckdb_con plus the resource budget: the
    oracle must not be able to starve the engine under test (or vice
    versa) of disk or memory -- the r11 sf10 failure mode."""
    from tests.oracle_utils import duckdb_con

    con = duckdb_con(sf_dir)
    tmp = os.path.join(SCRATCH, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET memory_limit = '{DUCKDB_MEM}'")
    con.execute(f"SET temp_directory = '{tmp}'")
    # Temp spill is CAPPED, not just redirected (bench_crossover's r7
    # lesson): an oracle whose intermediate exceeds the volume must
    # fail as a recorded per-entry DNF with headroom left for the
    # artifact write and the next entry's Spark scratch -- not take
    # the host to 0 bytes free.  Sized at connect time: 60% of the
    # volume's current free space, or SOAK_DUCKDB_TEMP_GB.
    _recap_temp(con)
    # insertion-order preservation forces buffering that the compare
    # never needs (every comparison is multiset-based)
    con.execute("SET preserve_insertion_order = false")
    return con


class _DiskFloor:
    """Samples free bytes on SCRATCH's volume every 0.25 s; the min
    over an entry's lifetime is its scratch high-water mark."""

    def __init__(self) -> None:
        self._stop = threading.Event()
        self.min_free = shutil.disk_usage(SCRATCH).free
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while not self._stop.wait(0.25):
            free = shutil.disk_usage(SCRATCH).free
            if free < self.min_free:
                self.min_free = free

    def stop(self) -> int:
        self._stop.set()
        self._t.join(timeout=2)
        return self.min_free


def _stage_totals(app_id: str | None) -> dict[str, int] | None:
    """Cumulative stage metrics from the monitoring REST API (all
    stage states, so bytes written by a stage that later FAILED still
    count -- that is exactly the ENOSPC forensics case)."""
    if app_id is None:
        return None
    try:
        url = f"http://127.0.0.1:{UI_PORT}/api/v1/applications/{app_id}/stages"
        with urllib.request.urlopen(url, timeout=5) as r:
            stages = json.loads(r.read())
        out = dict.fromkeys(_METRIC_FIELDS, 0)
        for st in stages:
            for f in _METRIC_FIELDS:
                out[f] += int(st.get(f, 0) or 0)
        return out
    except Exception:  # noqa: BLE001 -- metrics are best-effort
        return None


def _gb(n: int) -> float:
    return round(n / 1e9, 3)


def _session_alive(spark) -> bool:
    """Driver-JVM liveness probe, checked after any entry ERROR: a
    task-level failure leaves the session usable, but a dead JVM (the
    r12 sf10 heap OOM killed the gateway outright) poisons every later
    entry with an instant EOFError -- the first run burned 26 entries
    that way and overwrote their prior artifact rows with garbage.
    Fail-stop + ``--resume`` is the recovery path."""
    try:
        return spark.sql("SELECT 1").collect()[0][0] == 1
    except Exception:  # noqa: BLE001
        return False


def sample_selection(names: list[str], n: int,
                     day: int | None = None) -> list[str]:
    """Deterministic day-rotated subset: sorted entry list, rotated by
    ``day * n`` so consecutive days cover disjoint (mod len) slices --
    the whole corpus cycles in ~ceil(len/n) days.  Shared by
    ``--sample`` and the suite leg tests/test_scale_sample.py so both
    cover the same slice on the same day."""
    names = sorted(names)
    if day is None:
        day = int(time.time() // 86400)
    off = (day * n) % len(names)
    return [names[(off + j) % len(names)] for j in range(n)]


def main() -> int:
    argv = sys.argv[1:]
    only: list[str] | None = None
    sample_n: int | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = [n for n in argv[i + 1].split(",") if n]
        argv = argv[:i] + argv[i + 2:]
    if "--sample" in argv:
        i = argv.index("--sample")
        sample_n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if a != "--resume"]
    resume = "--resume" in argv
    sf_dir = args[0] if len(args) > 0 else os.path.join(
        _ROOT, "bench_tiers", "sf1")
    out_path = args[1] if len(args) > 1 else os.path.join(
        _ROOT, "CORRECTNESS_SF1.json")

    os.makedirs(SCRATCH, exist_ok=True)

    from location_summary_etl_spark import get_session
    from location_summary_etl_spark.plans import corpus
    from location_summary_etl_spark.session import (
        demote_guarded_window_warnings,
    )
    from tests.oracle_utils import compare

    # The bench session shape: full local core width, AQE on.  The
    # soak is a correctness run, not a timing run -- no probe gating,
    # but wall times are recorded so a pathological entry is visible.
    # UI enabled (against the library default) purely for the
    # monitoring REST API that feeds the per-entry resource profile;
    # shuffle scratch pinned under SCRATCH.
    spark_local = os.path.join(SCRATCH, "spark_local")
    os.makedirs(spark_local, exist_ok=True)
    spark = get_session(extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": str(UI_PORT),
        "spark.local.dir": spark_local,
    })
    demote_guarded_window_warnings(spark)
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001
        app_id = None

    qs_all, oracles = corpus.queries(), corpus.oracle_sql()

    if sample_n is not None:
        only = sample_selection(sorted(qs_all), sample_n)
        print(f"sample: day-rotated subset of {sample_n}: {only}",
              flush=True)

    qs = dict(qs_all)
    if only is not None:
        unknown = [n for n in only if n not in qs_all]
        if unknown:
            raise SystemExit(f"--only names not in the corpus: {unknown}")
        qs = {n: qs_all[n] for n in qs_all if n in only}

    # Prior artifact: resume source AND (for subset runs) the merge
    # base for out-of-scope entries.  Never merge across tiers.
    prior: dict[str, dict] = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior_doc = json.load(f)
        prior_sf = prior_doc.get("sf_dir")
        if prior_sf is not None and \
                os.path.abspath(prior_sf) != os.path.abspath(sf_dir):
            raise SystemExit(
                f"{out_path} holds results for tier '{prior_sf}', not "
                f"'{sf_dir}' -- refusing to mix tiers in one artifact; "
                f"pass a different OUT_JSON.")
        prior = {n: r for n, r in prior_doc.get("results", {}).items()
                 if n in qs_all}

    results: dict[str, dict] = {}
    # merge-through: prior results for entries outside this run's
    # scope are preserved verbatim (r11 dropped them)
    for n, r in prior.items():
        if n not in qs:
            results[n] = r
    if resume:
        kept = {n: r for n, r in prior.items()
                if n in qs and r.get("hash_match") is not False
                and not r.get("err")}
        results.update(kept)
        print(f"resume: keeping {len(kept)} green entries from "
              f"{out_path}", flush=True)

    covered = sorted(set(results) | set(qs))
    t_start = time.time()

    def flush(final: bool = False) -> None:
        n_pass = sum(1 for r in results.values()
                     if r.get("hash_match") is not False and not r.get("err"))
        artifact = {
            "sf_dir": sf_dir,
            "corpus_entries": len(qs_all),
            "n_entries": len(covered),
            "n_pass": n_pass,
            "complete": final and all(n in results for n in covered),
            "total_sec": round(time.time() - t_start, 1),
            "duckdb_memory_limit": DUCKDB_MEM,
            "results": {n: results[n] for n in covered if n in results},
        }
        if only is not None:
            artifact["selection"] = sorted(qs)
        with open(out_path, "w") as f:
            json.dump(artifact, f, indent=1)

    def sweep() -> None:
        shutil.rmtree(os.path.join(SCRATCH, "duckdb_tmp"),
                      ignore_errors=True)
        for d in os.listdir(SCRATCH):
            if d.startswith("soak_"):
                shutil.rmtree(os.path.join(SCRATCH, d), ignore_errors=True)
        # ContextCleaner removes dead shuffle files off the GC queue
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    for i, name in enumerate(qs, 1):
        if name in results:
            continue
        row: dict = {"rows_match": False, "schema_match": False,
                     "hash_match": False, "err": None}
        row["disk_free_gb_start"] = _gb(shutil.disk_usage(SCRATCH).free)
        floor = _DiskFloor()
        m0 = _stage_totals(app_id)
        t0 = time.time()
        con = None
        try:
            df = qs[name](spark, sf_dir)
            row["spark_sec"] = round(time.time() - t0, 2)
            t1 = time.time()
            if name in oracles:
                n_rows = df.count()
                stripe_col = _oracle_stripe_col(name, sf_dir)
                if stripe_col is not None:
                    # Park the result FIRST, then release the engine's
                    # scratch (the striped plans hold their output as
                    # localCheckpoint blocks on this same volume), and
                    # only THEN size the oracle's temp grant from what
                    # the volume really has free.
                    parked = os.path.join(
                        SCRATCH, f"soak_{uuid.uuid4().hex}")
                    try:
                        df.write.mode("overwrite").parquet(parked)
                        del df
                        _release_spark_scratch(spark)
                        con = _budgeted_con(sf_dir)
                        row["duckdb_temp_cap_gb"] = round(
                            _recap_temp(con), 1)
                        needle = ORACLE_STRIPE_INNER_NEEDLE.get(name)
                        compare_large_striped(
                            None, con, oracles[name], n_rows,
                            stripe_col, ORACLE_STRIPE_K,
                            inner_needle=needle, parked=parked)
                    finally:
                        shutil.rmtree(parked, ignore_errors=True)
                    row["compare"] = (
                        f"striped_except_all_k{ORACLE_STRIPE_K}"
                        + ("_inner" if needle else ""))
                elif n_rows > BIG_ROWS:
                    con = _budgeted_con(sf_dir)
                    row["duckdb_temp_cap_gb"] = round(_recap_temp(con), 1)
                    compare_large(df, con, oracles[name], n_rows)
                    row["compare"] = "parquet_except_all"
                else:
                    con = _budgeted_con(sf_dir)
                    row["duckdb_temp_cap_gb"] = round(_recap_temp(con), 1)
                    compare(df, con, oracles[name])
                row.update(rows_match=True, schema_match=True,
                           hash_match=True)
            else:  # rows-only fallback, mirroring the driver
                assert df.count() >= 0
                row.update(rows_match=True, schema_match=True,
                           hash_match=None)
            row["oracle_sec"] = round(time.time() - t1, 2)
            status = "ok"
        except AssertionError as e:
            # compare() failed: the artifact carries WHICH leg diverged
            msg = str(e)
            row["err"] = msg[:500]
            row["spark_sec"] = round(time.time() - t0, 2)
            if not msg.startswith("column mismatch"):
                row["schema_match"] = True
            if not msg.startswith(("column mismatch", "row count")):
                row["rows_match"] = True
            status = "DIVERGED"
        except Exception as e:  # noqa: BLE001 -- soak must finish
            row["err"] = f"{type(e).__name__}: {e}"[:500]
            row["trace"] = traceback.format_exc()[-1500:]
            status = "ERROR"
        finally:
            if con is not None:
                try:
                    con.close()
                except Exception:  # noqa: BLE001
                    pass
        row["min_free_gb"] = _gb(floor.stop())
        m1 = _stage_totals(app_id)
        if m0 is not None and m1 is not None:
            row["spark_metrics_gb"] = {
                f: _gb(m1[f] - m0[f]) for f in _METRIC_FIELDS}
        results[name] = row
        sweep()
        flush()
        print(f"[{i}/{len(qs)}] {name}: {status} "
              f"(spark {row.get('spark_sec', '?')}s, "
              f"oracle {row.get('oracle_sec', '?')}s, "
              f"min free {row['min_free_gb']}G)", flush=True)
        if status == "ERROR" and not _session_alive(spark):
            print("spark session DEAD after this entry -- aborting the "
                  "soak (completed rows are in the artifact; re-run "
                  "with --resume to continue)", flush=True)
            break

    flush(final=True)
    n_pass = sum(1 for r in results.values()
                 if r.get("hash_match") is not False and not r.get("err"))
    bad = [n for n, r in results.items()
           if r.get("hash_match") is False or r.get("err")]
    print(f"SOAK {n_pass}/{len(covered)} green at {sf_dir} "
          f"in {round(time.time() - t_start, 1)}s; "
          f"divergent/errored: {bad}")
    return 0 if n_pass == len(covered) else 1


if __name__ == "__main__":
    raise SystemExit(main())
