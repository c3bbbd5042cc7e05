"""Run the benchmark over several seeds and judge its spread.

    python3 perfbench/spread.py                      # every workload, seed 1
    python3 perfbench/spread.py --seeds 1-10 --save a.json
    python3 perfbench/spread.py --seeds 11-20 --against a.json

For each workload and end-to-end metric it prints the median, the
inter-quartile distance as a share of the median (with two or more
seeds) and the metric's bound from BENCHMARK.json.  ``--against``
compares the medians with a saved set and lists every metric that got
worse by more than its bound.  Exits 1 when a run was incorrect or a
check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from reduce import regressions, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=seeds, default=[1])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save")
    ap.add_argument("--against")
    args = ap.parse_args()
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]

    ok = True
    values: dict[str, dict[str, list[float]]] = {}
    for w in args.workloads:
        values[w] = {m["name"]: [] for m in metrics}
        for s in args.seeds:
            res = run_once(w, s, spec["run_seconds"], args.trace)
            if not res["correct"] or res["failed"]:
                ok = False
            print(f"{w} seed={s} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}",
                  flush=True)
            for m in metrics:
                values[w][m["name"]].append(res["metrics"][m["name"]]["value"])
    print(f"{'workload':<18}{'metric':<28}{'unit':<7}{'median':>12}"
          f"{'spread':>9}{'bound':>7}")
    for w, per in values.items():
        for m in metrics:
            xs = per[m["name"]]
            med = statistics.median(xs)
            sp = spread(xs) if len(xs) > 1 and med else None
            bound = m.get("bound")
            print(f"{w:<18}{m['name']:<28}{m['unit']:<7}{med:>12.4f}"
                  f"{'' if sp is None else f'{sp:.3f}':>9}"
                  f"{'' if bound is None else bound:>7}")
            if sp is not None and bound is not None and m["name"] != "setup_s" \
                    and sp > bound:
                ok = False
    if args.save:
        with open(args.save, "w") as f:
            json.dump(values, f, indent=1)
    if args.against:
        with open(args.against) as f:
            base = json.load(f)
        for w, per in values.items():
            if w not in base:
                continue
            med = lambda d: {k: statistics.median(v) for k, v in d.items() if v}  # noqa: E731
            worse = regressions(med(base[w]), med(per), metrics)
            print(f"{w} against {args.against}: "
                  f"{'worse on ' + ', '.join(worse) if worse else 'within bounds'}")
            ok = ok and not worse
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
