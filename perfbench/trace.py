"""Span tracing for the benchmark's traced pass.

Wrappers are installed from here at run time; no program file changes.
Every public function of ``functions/``, ``operators/`` (``ann_index``
apart), ``sources/`` and ``streaming/``, the sizing helpers of
``session.py``, the ``VersionedTable`` life-cycle methods and
``StreamingQuery.processAllAvailable`` record a span while tracing is
enabled.  py4j call commands (``c``) are counted on the span that is
innermost when they are sent.  Spark jobs and stages come from Spark's
own status store after each op and are attributed by job-ID range.
"""

from __future__ import annotations

import datetime
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

from reduce import driver_gap, merge_intervals, self_times

PKG = "location_summary_etl_spark"
SIZING = ("ensure_parallelism", "partition_for_python_scan",
          "partition_for_grouped_python", "broadcast_if_small",
          "source_bytes")
# (method, kind) of VersionedTable that record a ``sources`` span.
VERSIONED = (("commit", "commit"), ("merge", "commit"),
             ("compact", "commit"), ("restore", "commit"),
             ("vacuum", "vacuum"), ("read", "read"), ("changes", "read"))
ANN_KINDS = {"build_ivf_index": "build", "refresh_ivf_index": "refresh",
             "ivf_query_index": "query", "ivf_query_index_vectors": "query",
             "ivf_query_index_quantized": "query"}
# I/O layers whose time plans.build_s leaves out.
IO_LAYERS = ("sources", "ann_index", "streaming")
LAYERS = ("op", "plans", "functions", "operators", "session", "sources",
          "ann_index", "streaming", "exec", "stage")
MB = 1 << 20


class Tracer:
    """Records spans in memory.  Each span: id, op, parent, layer,
    name, kind, start, end (epoch seconds) and py4j (call commands
    sent while it was the innermost span)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main: list[dict] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _innermost(self, stack: list[dict]) -> dict | None:
        # A callback thread (foreachBatch) with nothing open nests
        # under whatever the main thread is blocked in.
        if stack:
            return stack[-1]
        return self._main[-1] if self._main else None

    @contextmanager
    def span(self, layer: str, name: str, kind: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = self._innermost(stack)
        rec = {"id": next(self._ids), "op": self.op,
               "parent": parent["id"] if parent else None,
               "layer": layer, "name": name, "kind": kind,
               "start": time.time(), "end": None, "py4j": 0}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count_command(self, command: str) -> None:
        if self.enabled and command.startswith("c\n"):
            sp = self._innermost(self._stack())
            if sp is not None:
                sp["py4j"] += 1

    def take(self, op: str) -> list[dict]:
        """Remove and return the finished spans of ``op``."""
        with self._lock:
            mine = [s for s in self.spans if s["op"] == op]
            self.spans = [s for s in self.spans if s["op"] != op]
        return mine


def _wrap(tracer: Tracer, f, layer: str, kind: str | None):
    @functools.wraps(f)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return f(*args, **kwargs)
        with tracer.span(layer, f.__qualname__, kind):
            return f(*args, **kwargs)
    return traced


def _drain_wrapper(tracer: Tracer, f):
    @functools.wraps(f)
    def traced(query, *args, **kwargs):
        if not tracer.enabled:
            return f(query, *args, **kwargs)
        with tracer.span("streaming", "processAllAvailable", "drain") as rec:
            out = f(query, *args, **kwargs)
            ids = set()
            for p in query.recentProgress:
                bid = p.get("batchId") if isinstance(p, dict) else p.batchId
                if bid is not None:
                    ids.add(bid)
            rec["batches"] = len(ids)
            return out
    return traced


def _modules(prefix: str) -> list[str]:
    pkg = importlib.import_module(prefix)
    names = [prefix]
    if hasattr(pkg, "__path__"):
        names += [m.name for m in pkgutil.iter_modules(pkg.__path__,
                                                       prefix + ".")]
    return [n for n in names if not n.endswith("__main__")]


def _public_functions(modname: str):
    mod = importlib.import_module(modname)
    return [(n, f) for n, f in vars(mod).items()
            if inspect.isfunction(f) and f.__module__ == modname
            and not n.startswith("_")]


def install(tracer: Tracer):
    """Install every wrapper; return the function that removes them."""
    wrapped: dict[int, tuple] = {}

    def add(f, layer, kind):
        wrapped[id(f)] = (f, _wrap(tracer, f, layer, kind))

    for mod in _modules(f"{PKG}.functions"):
        for _, f in _public_functions(mod):
            add(f, "functions", None)
    for mod in _modules(f"{PKG}.operators"):
        ann = mod.endswith(".ann_index")
        for n, f in _public_functions(mod):
            if ann:
                add(f, "ann_index", ANN_KINDS.get(n, "other"))
            else:
                add(f, "operators", None)
    for mod in _modules(f"{PKG}.sources"):
        kind = "commit" if mod.endswith(".writers") else "read"
        for _, f in _public_functions(mod):
            add(f, "sources", kind)
    for _, f in _public_functions(f"{PKG}.streaming.jobs"):
        add(f, "streaming", "build")
    session = importlib.import_module(f"{PKG}.session")
    for n in SIZING:
        add(getattr(session, n), "session", "sizing")

    patches: list[tuple] = []
    for mod in [m for name, m in list(sys.modules.items())
                if name == PKG or name.startswith(PKG + ".")
                or name in ("__spark_entry__", "bench")]:
        for attr, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                patches.append((mod, attr, val))

    from location_summary_etl_spark.sources.versioned import VersionedTable
    for meth, kind in VERSIONED:
        orig = VersionedTable.__dict__[meth]
        setattr(VersionedTable, meth, _wrap(tracer, orig, "sources", kind))
        patches.append((VersionedTable, meth, orig))

    from pyspark.sql.streaming.query import StreamingQuery
    orig = StreamingQuery.__dict__["processAllAvailable"]
    StreamingQuery.processAllAvailable = _drain_wrapper(tracer, orig)
    patches.append((StreamingQuery, "processAllAvailable", orig))

    import py4j.clientserver
    import py4j.java_gateway
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        orig = cls.__dict__["send_command"]

        def send_command(self, command, *a, _orig=orig, **k):
            tracer.count_command(command)
            return _orig(self, command, *a, **k)
        cls.send_command = send_command
        patches.append((cls, "send_command", orig))

    def uninstall():
        for owner, attr, val in reversed(patches):
            setattr(owner, attr, val)
    return uninstall


def _epoch(stamp: str | None) -> float | None:
    """Status-store date ("2026-10-17T03:20:08.405GMT") -> epoch s."""
    if not stamp:
        return None
    dt = datetime.datetime.strptime(stamp.removesuffix("GMT"),
                                    "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


class StatusReader:
    """Jobs and stages from Spark's live status store, read through
    py4j from outside the program (the UI can stay disabled)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = (sc._jvm.org.apache.spark.status.api.v1
                        .JacksonMessageWriter().mapper())

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the store holds the final metrics of finished jobs."""
        self._sc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, lo: int, hi: int) -> list[dict]:
        out = []
        for jid in range(lo, hi):
            try:
                out.append(self._json(self._store.job(jid)))
            except Exception:
                pass  # evicted or never registered
        return out

    def stages(self, jobs: list[dict]) -> list[dict]:
        """First attempts of the jobs' stages that ran (skipped stages,
        whose work an earlier stage already did, are left out)."""
        out = []
        for sid in sorted({s for j in jobs for s in j.get("stageIds", [])}):
            try:
                sd = self._json(
                    self._store.stageAttempt(sid, 0, False, None, False,
                                             None)._1())
            except Exception:
                continue
            if sd.get("status") in ("COMPLETE", "FAILED"):
                out.append(sd)
        return out


def stage_totals(stages: list[dict]) -> dict:
    """Exec counters summed over stages."""
    g = lambda k: sum(s.get(k, 0) or 0 for s in stages)  # noqa: E731
    return {
        "exec.stages": len(stages),
        "exec.tasks": g("numCompleteTasks") + g("numFailedTasks"),
        "exec.failed_tasks": g("numFailedTasks"),
        "exec.task_run_s": g("executorRunTime") / 1e3,
        "exec.task_cpu_s": g("executorCpuTime") / 1e9,
        "exec.gc_s": g("jvmGcTime") / 1e3,
        "exec.input_mb": g("inputBytes") / MB,
        "exec.shuffle_write_mb": g("shuffleWriteBytes") / MB,
        "exec.shuffle_read_mb": g("shuffleReadBytes") / MB,
        "exec.spill_mb": g("diskBytesSpilled") / MB,
        "sources.bytes_written_mb": g("outputBytes") / MB,
    }


def nest_stages(spans: list[dict], stages: list[dict]) -> list[dict]:
    """The op's spans plus its stage intervals as "stage" spans.  A stage
    nests under the innermost span open when it was submitted; stages
    side by side under one span merge into busy intervals, so they
    count once."""
    by_id = {s["id"]: s for s in spans}
    root = next(s for s in spans if s["layer"] == "op")

    def depth(s):
        return 0 if s["parent"] is None else 1 + depth(by_id[s["parent"]])

    hosts: dict = {}
    for st in stages:
        a, b = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
        if a is None or b is None:
            continue
        inside = [s for s in spans if s["start"] <= a <= s["end"]]
        host = max(inside, key=depth) if inside else root
        hosts.setdefault(host["id"], []).append((a, b))
    tree = list(spans)
    for hid, ivs in hosts.items():
        h = by_id[hid]
        for i, (a, b) in enumerate(merge_intervals(ivs, h["start"], h["end"])):
            tree.append({"id": f"stage:{hid}:{i}", "op": root["op"],
                         "parent": hid, "layer": "stage", "name": "stages",
                         "kind": None, "start": a, "end": b, "py4j": 0})
    return tree


def reduce_op(tree: list[dict], jobs: list[dict], stages: list[dict],
              group: str) -> dict:
    """Per-layer figures of one traced op from its span tree (root,
    wrapped spans and nested stages, as ``nest_stages`` builds it), its
    jobs and its stages."""
    by_id = {s["id"]: s for s in tree}
    spans = [s for s in tree if s["layer"] != "stage"]
    busy = [s for s in tree if s["layer"] == "stage"]
    root = next(s for s in spans if s["layer"] == "op")

    def ancestors(s):
        p = by_id.get(s["parent"])
        while p is not None:
            yield p
            p = by_id.get(p["parent"])

    def under(s, top):
        return s is top or any(a is top for a in ancestors(s))

    def outermost(layers, kind=None):
        return [s for s in spans if s["layer"] in layers
                and (kind is None or s["kind"] == kind)
                and not any(a["layer"] in layers for a in ancestors(s))]

    def wall(ss):
        return sum(s["end"] - s["start"] for s in ss)

    selfs = self_times(tree)
    out = {f"self.{layer}_s": 0.0 for layer in LAYERS}
    for s in tree:
        out[f"self.{s['layer']}_s"] += selfs[s["id"]]

    builds = [s for s in spans if s["layer"] == "plans"]
    io = outermost(IO_LAYERS)
    ops_spans = outermost(("operators",))
    execs = [s for s in spans if s["layer"] == "exec"]
    ann = [s for s in spans if s["layer"] == "ann_index"]
    intervals = [(s["start"], s["end"]) for s in busy]
    count = lambda layer, kind=None: sum(  # noqa: E731
        1 for s in spans if s["layer"] == layer
        and (kind is None or s["kind"] == kind))
    out.update({
        "op.wall_s": root["end"] - root["start"],
        "plans.build_s": sum(wall([b]) - wall([d for d in io if under(d, b)])
                             for b in builds),
        "plans.py4j_calls": sum(d["py4j"] for b in builds for d in spans
                                if under(d, b)),
        "functions.calls": count("functions"),
        "functions.s": wall(outermost(("functions",))),
        "operators.build_s": wall(ops_spans) - sum(
            wall([t for t in busy if under(t, o)]) for o in ops_spans),
        "session.sizing_calls": count("session"),
        "session.sizing_s": wall(outermost(("session",))),
        "exec.s": wall(execs),
        "exec.driver_gap_s": sum(driver_gap(e["start"], e["end"], intervals)
                                 for e in execs),
        "exec.jobs": len(jobs),
        "exec.jobs_in_group": sum(1 for j in jobs if j.get("jobGroup") == group),
        "sources.commits": count("sources", "commit"),
        "sources.commit_s": wall(outermost(("sources",), "commit")),
        "sources.vacuum_s": wall(outermost(("sources",), "vacuum")),
        "ann_index.build_s": wall(outermost(("ann_index",), "build")),
        "ann_index.refresh_s": wall(outermost(("ann_index",), "refresh")),
        "ann_index.query_s": wall(outermost(("ann_index",), "query")),
        "ann_index.jobs": sum(
            1 for j in jobs
            if any(s["start"] <= (_epoch(j.get("submissionTime")) or 0) <= s["end"]
                   for s in ann)),
        "streaming.drain_s": wall([s for s in spans if s["kind"] == "drain"]),
        "streaming.batches": sum(s.get("batches", 0) for s in spans
                                 if s["kind"] == "drain"),
    })
    out.update(stage_totals(stages))
    return out
