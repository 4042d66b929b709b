"""Layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: :func:`install`
replaces public functions of the engine's modules with timing wrappers, in
the defining module and in every module that imported the name with
``from ... import``. Nothing inside the package changes. Spans (name, start,
end, parent, operation id, thread) stay in memory and are written out when
the run ends.

Spark's side of an operation is read from the driver's status store: every
operation runs under its own job group, its jobs come from
``statusTracker().getJobIdsForGroup`` (plus, for the streaming workload, the
jobs the stream thread submitted inside the operation's window), and their
stages' task metrics from ``AppStatusStore.stageData``. Job call sites are
JVM frames, so jobs are attributed to a layer by the time window of the
layer's span, not by call site.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time

PACKAGE = "quill_agent_dashboard_pbi_etl_spark"

# (module, public name, span name). The wrapper replaces the name wherever
# the original function object is bound inside the package.
WRAPPED = (
    ("functions.adapter", "normalize_webhooks", "functions.adapter.normalize"),
    ("plans.registry", "normalized_fact", "plans.normalized_fact"),
    ("operators.materialize", "pin", "operators.materialize.pin"),
    ("operators.clustering", "connected_components", "operators.clustering.cc"),
    ("operators.similarity", "blocked_near_dup_numpy", "operators.similarity.pairs"),
    ("operators.dedup", "gate_anti_join", "operators.dedup.gate_anti_join"),
    ("sinks", "append_ledger", "sinks.append_ledger"),
)


class Tracer:
    """In-memory span recorder. ``op`` is the id of the operation the client
    is running; spans opened on other threads (the stream's ``foreachBatch``
    callback) are attributed to it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | str | None = None
        self._local = threading.local()
        self._t0 = time.perf_counter()
        self._wall0 = time.time()

    def wall_ms(self, t: float) -> float:
        """Epoch milliseconds of a ``perf_counter`` reading."""
        return (self._wall0 + (t - self._t0)) * 1000.0

    def begin(self, name: str) -> dict:
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.op,
            "thread": threading.get_ident(),
            "id": len(self.spans),
        }
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._local.stack
        if stack and stack[-1] is span:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        return traced

    def dump(self, path: str) -> None:
        """Write spans as JSON lines, times relative to tracer creation,
        each with its self time (duration minus the time its children
        cover)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        with open(path, "x") as fh:
            for s in self.spans:
                end = s["end"] if s["end"] is not None else s["start"]
                fh.write(json.dumps({
                    "id": s["id"], "name": s["name"], "op": s["op"], "parent": s["parent"],
                    "start": round(s["start"] - self._t0, 6), "end": round(end - self._t0, 6),
                    "self": round(end - s["start"] - child_time.get(s["id"], 0.0), 6),
                    "thread": s["thread"],
                }) + "\n")


def install(tracer: Tracer) -> None:
    """Patch the engine's layer entry points for the rest of the process."""
    import importlib

    def rebind(orig, new) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    for mod_name, attr, span_name in WRAPPED:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        orig = getattr(mod, attr)
        rebind(orig, tracer.wrap(orig, span_name))

    dedup = importlib.import_module(f"{PACKAGE}.operators.dedup")
    lock_cls = dedup.LedgerLock

    class TracedLedgerLock(lock_cls):
        """Times the locked gate-and-claim section of each micro-batch."""

        def __enter__(self):
            self._span = tracer.begin("operators.dedup.ledger_lock")
            return super().__enter__()

        def __exit__(self, *exc):
            try:
                return super().__exit__(*exc)
            finally:
                tracer.end(self._span)

    rebind(lock_cls, TracedLedgerLock)


# --------------------------------------------------------------------------- #
# Spark status store
# --------------------------------------------------------------------------- #

STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "input_mb": lambda s: s.inputBytes() / 2**20,
    "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
    "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
}


class StatusStore:
    """Reads jobs and stage metrics of the live SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        jd = self.store.job(job_id)
        sub = jd.submissionTime()
        sids = jd.stageIds()
        return {
            "id": job_id,
            "submitted_ms": sub.get().getTime() if sub.isDefined() else None,
            "stages": [sids.apply(i) for i in range(sids.size())],
        }

    def stage_totals(self, stage_ids) -> dict[str, float]:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["stages"] = 0
        for sid in sorted(set(stage_ids)):
            attempts = self.store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                for name, get in STAGE_FIELDS.items():
                    out[name] += get(s)
        return out
