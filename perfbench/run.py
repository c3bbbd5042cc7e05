"""Benchmark of the location-summary engine, one workload per run.

    python3 perfbench/run.py --workload batch_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run starts the engine exactly as
the repo documents it for a host (``SPARK_GRAFT_CPUS`` = the usable
core count, ``SPARK_LOCAL_DIRS`` set, every other setting the
program's default -- the driver heap included) in a fresh process,
then:

  setup   process start until the session has run one trivial job;
  cold    one pass over the workload's ops in the fresh session;
  check   every op run once more, its result against its DuckDB oracle;
  warm    passes until the cold and warm passes have measured
          ``--seconds`` (at least one warm pass); ``warm_pass_s`` sums
          each op's median over the warm passes;
  trace   with ``--trace 1``: an untraced pass, a pass with every layer
          traced, and another untraced pass; the tracing overhead is the
          traced pass against the median of the two around it.

An op that raises, mismatches its oracle or loses its driver counts as
failed; after a lost driver a fresh session continues with the next op
(its set-up is counted apart from ``setup_s``).  The seed fixes the op
order of every pass after the cold one, which keeps the listed order;
the parquet inputs are fixed.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``).  The full record -- samples, percentiles,
per-pass op lists, host stamp -- goes to
``.perfbench/artifacts/<workload>-seed<n>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A run must end within 180 s; sessions still running at this point of
# the run are stopped and the run reports what finished.
DEADLINE_S = 165
PROGRAM_FILES = ("__spark_entry__.py", "bench.py",
                 "location_summary_etl_spark/session.py",
                 "tests/oracle_utils.py")
# Fixed inputs (TESTDATA.md, seed 42): row counts checked before timing.
SF01_ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
             "part": 20000, "orders": 150000, "lineitem": 600000,
             "events": 100000, "documents": 5000, "embeddings": 2000}
LAKEHOUSE_OPS = ["merge_upsert_orders", "ann_topk_ivf_delta",
                 "streaming_lakehouse_ingest", "streaming_tumbling_counts"]
MB = 1 << 20


def workloads() -> dict:
    import bench

    return {
        "batch_sf0.1": {"sf": "sf0.1", "ops": bench.HEADLINE[::2],
                        "writes": False},
        "lakehouse_sf0.1": {"sf": "sf0.1", "ops": LAKEHOUSE_OPS,
                            "writes": True},
    }


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def testdata_dir(sf: str) -> str:
    root = os.environ.get("PERFBENCH_TESTDATA")
    if root is None:
        from tests.conftest import SF_SMOKE

        root = os.path.dirname(SF_SMOKE)
    return os.path.join(root, sf)


def check_inputs(sf_dir: str) -> dict:
    import duckdb

    from location_summary_etl_spark.sources.registry import table_path

    con = duckdb.connect()
    counts = {}
    for t, want in SF01_ROWS.items():
        path = table_path(sf_dir, t)
        if not os.path.exists(path):
            fail(f"input table missing: {path}")
        counts[t] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        if counts[t] != want:
            fail(f"{t}: {counts[t]} rows, expected {want}")
    con.close()
    return counts


def host_stamp() -> dict:
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, ROOT)
        if not rel.startswith((".", "perfbench")):
            with open(path, "rb") as f:
                digest.update(rel.encode() + b"\0" + f.read())
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem,
            "python": platform.python_version(), "git_commit": commit,
            "source_sha256": digest.hexdigest()}


def _kill_group(proc: subprocess.Popen, jvm_pid: int | None) -> None:
    """Stop the worker's process group and wait until its JVM is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    if jvm_pid:
        for _ in range(100):
            if not os.path.exists(f"/proc/{jvm_pid}"):
                break
            try:
                os.kill(jvm_pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)


def next_cursor(start: dict, order_of) -> list | None:
    """Cursor after the op a dead session was running.  The traced
    passes are not resumed: the run ends with the failure recorded."""
    phase, p = start["phase"], start["pass"]
    order = order_of(0 if phase == "check" else p)
    i = order.index(start["op"]) + 1
    if i < len(order) and phase in ("cold", "check", "warm"):
        return [phase, p, i]
    return {"cold": ["check", 0, 0], "check": ["warm", 1, 0]}.get(phase)


def launch(plan: dict, env: dict, deadline: float, tag: str):
    """Run one worker session; return (records, exit code or None on
    timeout)."""
    path = os.path.join(WORK, f"plan-{tag}.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    offset = os.path.getsize(plan["out"]) if os.path.exists(plan["out"]) else 0
    env = dict(env, PERFBENCH_T0=repr(time.time()))
    with open(os.path.join(WORK, "logs", f"worker-{tag}.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), path],
            cwd=os.path.join(WORK, "cwd"), env=env, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
    recs = []
    if os.path.exists(plan["out"]):
        with open(plan["out"]) as f:
            f.seek(offset)
            recs = [json.loads(line) for line in f if line.strip()]
    jvm = next((r["jvm_pid"] for r in recs if r["type"] == "setup"), None)
    _kill_group(proc, jvm)
    return recs, rc


def run(args) -> dict:
    wl = workloads()[args.workload]
    sf_dir = testdata_dir(wl["sf"])
    t_run = time.time()
    deadline = t_run + DEADLINE_S
    for sub in ("tmp", "spark-local", "cwd", "logs"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    inputs = check_inputs(sf_dir)
    sys.path.insert(0, HERE)
    from oracle import Checker
    from worker import pass_order

    Checker(os.path.join(WORK, "oracle", wl["sf"]), sf_dir).fill(wl["ops"])
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    plan = {"ops": wl["ops"], "sf_dir": sf_dir,
            "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "writes": wl["writes"],
            "oracle_dir": os.path.join(WORK, "oracle", wl["sf"]),
            "out": os.path.join(WORK, "events.jsonl")}
    if os.path.exists(plan["out"]):
        os.remove(plan["out"])

    def order_of(p):
        return pass_order(wl["ops"], args.seed, p)

    records, sessions, cursor, timed_out = [], 0, ["cold", 0, 0], False
    while cursor is not None:
        recs, rc = launch(dict(plan, cursor=cursor), env, deadline,
                          str(sessions))
        sessions += 1
        records += recs
        if rc == 0:
            break
        timed_out = rc is None
        starts = [r for r in recs if r["type"] == "start"]
        if not starts or timed_out:
            break
        last = starts[-1]
        done = [r for r in recs[recs.index(last):]
                if r["type"] in ("op", "check")]
        if not done:  # the process died inside the op
            kind = "check" if last["phase"] == "check" else "op"
            records.append({"type": kind, "phase": last["phase"],
                            "pass": last["pass"], "op": last["op"],
                            "ok": False, "error": f"session exit {rc}"})
        cursor = next_cursor(last, order_of)
    setups = [r for r in records if r["type"] == "setup"]
    if not setups:
        log = os.path.join(WORK, "logs", "worker-0.log")
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"the first session did not start:\n{tail}")
    return reduce_run(args, wl, records, sessions, timed_out, inputs,
                      time.time() - t_run)


def reduce_run(args, wl, records, sessions, timed_out, inputs, run_s) -> dict:
    from reduce import summarize

    ops = [r for r in records if r["type"] == "op"]
    checks = [r for r in records if r["type"] == "check"]
    setups = [r for r in records if r["type"] == "setup"]
    setup_samples = [setups[0]["setup_s"]]
    restarts = [r["setup_s"] for r in setups[1:]]

    def pass_walls(phase):
        walls: dict[int, float] = {}
        for r in ops:
            if r["phase"] == phase and r["ok"]:
                walls[r["pass"]] = walls.get(r["pass"], 0.0) + r["wall_s"]
        return [walls[p] for p in sorted(walls)]

    cold, warm, trace_pass, bracket = (
        pass_walls(p) for p in ("cold", "warm", "trace", "bracket"))
    warm_ops: dict[str, list[float]] = {}
    for r in ops:
        if r["phase"] == "warm" and r["ok"]:
            warm_ops.setdefault(r["op"], []).append(r["wall_s"])
    per_pass: dict[str, dict] = {}
    for r in ops:
        key = f"{r['phase']}{r['pass']}"
        entry = per_pass.setdefault(key, {"completed": [], "failed": [],
                                          "wall_s": {}})
        entry["completed" if r["ok"] else "failed"].append(r["op"])
        if r["ok"]:
            entry["wall_s"][r["op"]] = r["wall_s"]
    failed_ops = [r for r in ops if not r["ok"]]
    mismatched = [r for r in checks if not r["ok"]]
    checked = {r["op"] for r in checks if r["ok"]}
    attempted = len(ops)
    failed = len(failed_ops) + len(mismatched)
    rss = [r["peak_rss_mb"] for r in records
           if r["type"] == "end" and r.get("peak_rss_mb")]
    passes = [r for r in records if r["type"] == "pass" and "files_written" in r]
    warm_passes = [r for r in passes if r["phase"] == "warm"]

    e2e = {
        "setup_s": statistics.median(setup_samples),
        "cold_pass_s": cold[0] if cold else None,
        "warm_pass_s": (sum(statistics.median(v) for v in warm_ops.values())
                        if warm_ops else None),
    }
    detail = {
        "peak_rss_mb": max(rss) if rss else None,
        "setup_s": summarize(setup_samples),
        "cold_pass_s": summarize(cold),
        "warm_pass_walls_s": summarize(warm),
        "fail_frac": failed / attempted if attempted else None,
        "restart_setup_s": restarts,
        "sessions": sessions,
        "timed_out": timed_out,
    }
    if warm_passes:
        for k in ("bytes_written_mb", "bytes_stored_mb", "files_written"):
            detail[k] = summarize([r[k] for r in warm_passes])
    out = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_s": run_s,
        "host": dict(host_stamp(), **{k: setups[0][k] for k in (
            "jvm_max_memory", "java_version", "spark_version", "master")}),
        "inputs": inputs, "end_to_end": e2e, "detail": detail,
        "per_pass": per_pass,
        "setup_breakdown": {k: setups[0][k] for k in (
            "import_s", "session_s", "first_job_s")},
        "failures": [{k: r.get(k) for k in ("phase", "pass", "op", "error")}
                     for r in failed_ops + mismatched],
    }
    traced = next((r for r in records if r["type"] == "layers"), None)
    if args.trace and traced is not None:
        layers = traced["ops"]
        per_layer = {}
        for op in layers.values():
            for k, v in op.items():
                per_layer[k] = per_layer.get(k, 0) + v
        trace_rec = next((r for r in passes if r["phase"] == "trace"), {})
        per_layer.update({
            "sources.files_written": trace_rec.get("files_written", 0),
            "sources.bytes_stored_mb": trace_rec.get("bytes_stored_mb", 0.0),
            "setup.import_s": setups[0]["import_s"],
            "setup.session_s": setups[0]["session_s"],
            "setup.first_job_s": setups[0]["first_job_s"],
            "trace.pass_s": trace_pass[0] if trace_pass else 0.0,
            "trace.untraced_warm_s": (statistics.median(bracket)
                                      if bracket else 0.0),
            "trace.self_sum_s": sum(v for k, v in per_layer.items()
                                    if k.startswith("self.")),
            "fail_frac": detail["fail_frac"] or 0.0,
            "driver.peak_rss_mb": detail["peak_rss_mb"] or 0.0,
        })
        per_layer["trace.overhead_s"] = (per_layer["trace.pass_s"]
                                         - per_layer["trace.untraced_warm_s"])
        per_layer.pop("op.wall_s", None)
        out["per_layer"] = per_layer
        out["traced_ops"] = layers
        with open(os.path.join(WORK, "artifacts", f"{args.workload}-seed"
                               f"{args.seed}-spans.json"), "w") as f:
            json.dump(traced["spans"], f)
    out["correct"] = (not mismatched and not timed_out
                      and checked == set(wl["ops"]))
    out["attempted"] = attempted
    out["failed"] = failed
    return out


def report(res: dict, spec: dict) -> dict:
    """Print the human-readable summary; return the metrics object of
    the last stdout line."""
    w = res["workload"]
    h = res["host"]
    print(f"# {w} seed={res['seed']} nproc={h['nproc']} "
          f"mem={h['mem_total_mb']}MB jvm_max={h['jvm_max_memory'] / MB:.0f}MB "
          f"spark={h['spark_version']} java={h['java_version']} "
          f"python={h['python']} commit={h['git_commit']}")
    for k, v in res["detail"].items():
        if isinstance(v, dict):
            cells = " ".join(f"{a}={b:.4g}" if isinstance(b, float) else f"{a}={b}"
                             for a, b in v.items())
            print(f"{w} {k}: {cells}")
    print(f"{w} fail_frac: {res['detail']['fail_frac']} "
          f"peak_rss_mb={res['detail']['peak_rss_mb']} "
          f"sessions={res['detail']['sessions']} "
          f"restart_setup_s={res['detail']['restart_setup_s']}")
    for key, p in res["per_pass"].items():
        print(f"{w} pass {key}: {len(p['completed'])} completed "
              f"in {sum(p['wall_s'].values()):.3f} s, failed={p['failed']}")
    for f in res["failures"]:
        print(f"{w} FAILED {f['phase']}{f['pass'] if f['pass'] is not None else ''} "
              f"{f['op']}: {(f['error'] or '')[:300]}")
    if res["trace"]:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        vals = res.get("per_layer", {})
        for n in names:
            print(f"{w} {n} = {vals.get(n, 0):.6g} {units[n]}")
        return {n: {"value": vals.get(n, 0), "unit": units[n]} for n in names}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for n, u in units.items():
        print(f"{w} {n} = {res['end_to_end'][n]} {u}")
    return {n: {"value": res["end_to_end"][n], "unit": u}
            for n, u in units.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in PROGRAM_FILES
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the engine (missing {', '.join(missing)})")
    sys.path.insert(0, ROOT)
    if args.workload not in workloads():
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads())}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res = run(args)
    path = os.path.join(WORK, "artifacts",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1)
    metrics = report(res, spec)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
