"""One benchmark session, run by run.py in its own process.

    python3 perfbench/worker.py PLAN.json

PLAN.json (written by run.py) names the workload's ops, the input
directory, the seed, the warm-phase length, whether to trace, and the
cursor to start from (a session after a crash resumes at the op after
the one that failed).  Every event is appended as one JSON line to the
plan's ``out`` file, so the parent still has the record of every
finished op when this process or its JVM dies.

Phases, each op in the seed's order for that pass:
  cold   pass 0 in the fresh session, timed;
  check  every op built and run once more, its result compared with its
         DuckDB oracle, untimed (so a warm pass is each op's third run);
  warm   passes 1.. until the cold and warm passes have measured
         ``seconds`` (at least one warm pass);
  trace  with tracing on, one untraced pass, one pass with every layer
         wrapper installed, and one more untraced pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as contract  # noqa: E402
from location_summary_etl_spark.session import (  # noqa: E402
    demote_guarded_window_warnings,
    get_session,
)

T_IMPORT = time.time()

import oracle  # noqa: E402
from trace import (  # noqa: E402
    MB,
    StatusReader,
    Tracer,
    install,
    nest_stages,
    reduce_op,
    stage_totals,
)


def pass_order(ops: list[str], seed: int, pass_idx: int) -> list[str]:
    """Op order of a pass.  The cold pass (0) keeps the listed order:
    the first ops of a fresh session pay its one-time costs (Python
    worker start, first shuffle, shared codegen), so a seed-dependent
    cold order moved cold_pass_s by 10 % between seeds.  The seed
    shuffles every later pass."""
    import random

    order = list(ops)
    if pass_idx > 0:
        random.Random(seed * 1000 + pass_idx).shuffle(order)
    return order


def _rss_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def _table_roots(tmp: str) -> dict[str, tuple[int, int]]:
    """Life-cycle scratch roots (``<tmp>/spark_graft_<kind>_runs_<sf>/*``)
    -> (files, bytes) under each."""
    out = {}
    for kind in sorted(os.listdir(tmp)) if os.path.isdir(tmp) else []:
        base = os.path.join(tmp, kind)
        if not (kind.startswith("spark_graft_") and os.path.isdir(base)):
            continue
        for entry in os.listdir(base):
            root = os.path.join(base, entry)
            files = size = 0
            for d, _, names in os.walk(root):
                for n in names:
                    try:
                        size += os.path.getsize(os.path.join(d, n))
                        files += 1
                    except OSError:
                        pass
            out[root] = (files, size)
    return out


class Session:
    def __init__(self, plan: dict):
        self.plan = plan
        self.out = open(plan["out"], "a")
        self.spark: SparkSession | None = None
        self.fns = contract.queries()
        self.tmp = os.environ.get("TMPDIR", "/tmp")
        self.measured = 0.0

    def emit(self, rec: dict) -> None:
        self.out.write(json.dumps(rec) + "\n")
        self.out.flush()

    def start(self) -> None:
        self.spark = get_session(app_name="perfbench")
        t_session = time.time()
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        t_job = time.time()
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.emit({
            "type": "setup", "setup_s": t_job - T0,
            "import_s": T_IMPORT - T0, "session_s": t_session - T_IMPORT,
            "first_job_s": t_job - t_session, "jvm_pid": self.jvm_pid,
            "jvm_max_memory": int(jvm.java.lang.Runtime.getRuntime().maxMemory()),
            "java_version": jvm.java.lang.System.getProperty("java.version"),
            "spark_version": self.spark.version,
            "master": self.spark.sparkContext.master,
        })
        demote_guarded_window_warnings(self.spark)
        self.status = StatusReader(self.spark)

    def alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    def run_op(self, phase: str, pass_idx: int, name: str,
               tracer=None) -> None:
        """Build and run one op through the noop sink and record it; the
        process exits when the driver died."""
        spark, sf = self.spark, self.plan["sf_dir"]
        self.emit({"type": "start", "phase": phase, "pass": pass_idx,
                   "op": name})
        spark.catalog.clearCache()
        rec = {"type": "op", "phase": phase, "pass": pass_idx, "op": name}
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = self.fns[name](spark, sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            else:
                t0, t1, t2 = self._traced(tracer, name)
        except Exception as e:  # noqa: BLE001 -- any failure is recorded
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:2000])
            self.emit(rec)
            if not self.alive():
                sys.exit(3)
            return
        rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        self.measured += t2 - t0
        self.emit(rec)

    def _traced(self, tracer: Tracer, name: str):
        spark, sf = self.spark, self.plan["sf_dir"]
        group = f"perfbench:{name}"
        lo = self.status.next_job_id()
        spark.sparkContext.setJobGroup(group, group)
        tracer.op = name
        with tracer.span("op", name):
            t0 = time.perf_counter()
            with tracer.span("plans", name):
                df = self.fns[name](spark, sf)
            t1 = time.perf_counter()
            with tracer.span("exec", "noop"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        self.status.settle()
        jobs = self.status.jobs(lo, self.status.next_job_id())
        stages = self.status.stages(jobs)
        tree = nest_stages(tracer.take(name), stages)
        self.spans += tree
        self.layers[name] = reduce_op(tree, jobs, stages, group)
        return t0, t1, t2

    def run_pass(self, phase: str, pass_idx: int, start_at: int = 0,
                 tracer=None) -> None:
        order = pass_order(self.plan["ops"], self.plan["seed"], pass_idx)
        before = set(_table_roots(self.tmp))
        lo = self.status.next_job_id()
        for name in order[start_at:]:
            self.run_op(phase, pass_idx, name, tracer)
        rec = {"type": "pass", "phase": phase, "pass": pass_idx}
        if self.plan["writes"]:
            self.status.settle()
            jobs = self.status.jobs(lo, self.status.next_job_id())
            rec["bytes_written_mb"] = stage_totals(
                self.status.stages(jobs))["sources.bytes_written_mb"]
            new = {r: v for r, v in _table_roots(self.tmp).items()
                   if r not in before}
            rec["files_written"] = sum(f for f, _ in new.values())
            rec["bytes_stored_mb"] = sum(b for _, b in new.values()) / MB
        self.emit(rec)
        self.drop_roots()

    def drop_roots(self) -> None:
        """Delete the life-cycle scratch roots; no later phase reads
        them, and each op makes fresh ones."""
        import shutil

        for kind in os.listdir(self.tmp):
            if kind.startswith("spark_graft_"):
                shutil.rmtree(os.path.join(self.tmp, kind), ignore_errors=True)

    def check(self, start_at: int = 0) -> None:
        order = pass_order(self.plan["ops"], self.plan["seed"], 0)
        checker = oracle.Checker(self.plan["oracle_dir"], self.plan["sf_dir"])
        for name in order[start_at:]:
            self.emit({"type": "start", "phase": "check", "pass": 0,
                       "op": name})
            rec = {"type": "check", "phase": "check", "pass": 0, "op": name}
            try:
                self.spark.catalog.clearCache()
                checker.check(name, self.fns[name](self.spark,
                                                   self.plan["sf_dir"]))
                rec["ok"] = True
            except Exception as e:  # noqa: BLE001
                rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:2000])
                if not self.alive():
                    self.emit(rec)
                    sys.exit(3)
            self.emit(rec)
        self.drop_roots()

    def run(self) -> None:
        plan = self.plan
        phase, pass_idx, op_idx = plan["cursor"]
        self.start()
        if phase == "cold":
            self.run_pass("cold", 0, op_idx)
            op_idx = 0
        if phase in ("cold", "check"):
            self.check(op_idx)
            phase, pass_idx, op_idx = "warm", 1, 0
        if phase == "warm":
            while True:
                self.run_pass("warm", pass_idx, op_idx)
                pass_idx, op_idx = pass_idx + 1, 0
                if self.measured >= plan["seconds"]:
                    break
            if plan["trace"]:
                self.trace(pass_idx)
        self.emit({"type": "end", "peak_rss_mb": _rss_mb(self.jvm_pid)})
        self.spark.stop()

    def trace(self, pass_idx: int) -> None:
        """One traced pass between two untraced ones; the overhead is
        the traced pass against the mean of its neighbours."""
        self.run_pass("bracket", pass_idx)
        tracer = Tracer()
        self.layers: dict[str, dict] = {}
        self.spans: list[dict] = []
        uninstall = install(tracer)
        tracer.enabled = True
        try:
            self.run_pass("trace", pass_idx + 1, tracer=tracer)
        finally:
            tracer.enabled = False
            uninstall()
        self.emit({"type": "layers", "ops": self.layers, "spans": self.spans})
        self.run_pass("bracket", pass_idx + 2)


def main() -> None:
    with open(sys.argv[1]) as f:
        plan = json.load(f)
    Session(plan).run()


if __name__ == "__main__":
    main()
