"""Benchmark of the PySpark engine: one command, one workload, one seed.

    python3 perfbench/run.py --workload {ingest_live,dashboard_read,corpus_prep}
                             --seed N [--seconds S] [--trace 0|1]

The command generates the workload's inputs from the seed, computes the
DuckDB oracle answers, sets the engine up three times (session start,
stream start for ingest, and a first operation; the median is ``setup_s``;
the first set-up also starts the JVM and warms its compiled code), then runs
operations in a closed loop with one client on ``local[nproc]`` for
``--seconds`` (finishing the current block), checks every operation's output
against the oracle, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` patches span
timers around the engine's layer entry points (see ``trace.py``) and reports
per-layer metrics, plus the tracing overhead against the newest untraced
record of the same workload, seed and core count. Each run writes its own
record (and, traced, its spans) under ``.perfbench/records/``; no run
overwrites another's. Inputs and Spark scratch live under
``.perfbench/work/`` and are removed at exit.

Works from any working directory: the engine's root is the parent of this
file's directory, and it is exported to the Spark Python workers.

``BENCHMARK.json`` lists ingest_live and corpus_prep; dashboard_read runs
the same way but is left out of that list to keep a full measurement
campaign (22 runs per workload) short. Only dashboard_read reads the
adapter's plan memo, so ``plans.fact_memo_hit_ratio`` is reported on it
alone and is absent where no operation called ``normalized_fact``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import json
import os
import shutil
import signal
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PKG = "quill_agent_dashboard_pbi_etl_spark"
SETUP_REPS = 3


def _prepare_env(work: str, cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the engine importable here and in Spark's workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # Every JVM the launch starts (launcher and driver) keeps its temp files
    # here and writes no hsperfdata file to the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_session(work: str):
    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the SparkContext and the gateway JVM, and wait for the JVM and
    every process it started to exit."""
    from pyspark import SparkContext

    from .stats import descendants

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _op_spark_metrics(store, tracer, i: int, t0: float, t1: float, stream_group: str | None) -> dict:
    """Jobs and stage totals of operation ``i``: its own job groups plus the
    stream thread's jobs submitted inside the operation's window."""
    groups = [f"op{i}.{p}.{k}" for p in (0, 1) for k in ("construct", "exec")]
    jobs = {}
    for g in groups:
        for j in store.group_jobs(g):
            jobs[j] = dict(store.job(j), group=g)
    if stream_group:
        lo, hi = tracer.wall_ms(t0), tracer.wall_ms(t1)
        for j in store.group_jobs(stream_group):
            jd = store.job(j)
            if jd["submitted_ms"] is not None and lo <= jd["submitted_ms"] <= hi:
                jobs[j] = dict(jd, group=stream_group)
    stages = [s for jd in jobs.values() for s in jd["stages"]]
    return {"jobs": list(jobs.values()), "totals": store.stage_totals(stages)}


def _layer_metrics(tracer, wl, results, op_spark, setups, box) -> dict:
    """Per-layer metrics of the traced run; times and counts are means per
    operation unless the name says otherwise. A metric the workload never
    reaches is None."""
    from .stats import median

    n = max(1, len(results))
    ops = set(range(len(results)))
    by_id = {s["id"]: s for s in tracer.spans}
    spans = [s for s in tracer.spans if s["op"] in ops and s["end"] is not None]

    def dur(s):
        return s["end"] - s["start"]

    def total(name):
        return sum(dur(s) for s in spans if s["name"] == name)

    def jobs_within(name):
        wins = [(tracer.wall_ms(s["start"]), tracer.wall_ms(s["end"])) for s in spans if s["name"] == name]
        return sum(
            1 for st in op_spark.values() for j in st["jobs"]
            if j["submitted_ms"] is not None and any(lo <= j["submitted_ms"] <= hi for lo, hi in wins)
        )

    fact_calls = [s for s in spans if s["name"] == "plans.normalized_fact"]
    misses = {s["parent"] for s in spans if s["name"] == "functions.adapter.normalize"}
    hits = sum(1 for s in fact_calls if s["id"] not in misses)
    gate = sum(dur(s) for s in spans if s["name"] == "operators.dedup.ledger_lock") - sum(
        dur(s) for s in spans
        if s["name"] == "sinks.append_ledger" and s["parent"] is not None
        and by_id[s["parent"]]["name"] == "operators.dedup.ledger_lock"
    )
    sums: dict[str, float] = {}
    for st in op_spark.values():
        for k, v in st["totals"].items():
            sums[k] = sums.get(k, 0.0) + v
    construct_jobs = sum(
        1 for st in op_spark.values() for j in st["jobs"] if j["group"].endswith(".construct")
    )
    stream = [r.detail for r in results if "durations_ms" in r.detail]

    def stream_total(key):
        return sum(d.get(key, 0) for r in stream for d in r["durations_ms"]) / 1e3

    def setup_median(key):
        return median([s.get(key, 0.0) for s in setups])

    m = {
        "session.start_s": setup_median("session.start_s"),
        "setup.warmup_s": setup_median("setup.warmup_s"),
        "streaming.start_s": setup_median("streaming.start_s"),
        "functions.adapter.normalize_s": setup_median("functions.adapter.normalize_s"),
        "plans.construct_s": total("plans.construct") / n,
        "plans.construct_jobs": construct_jobs / n,
        "plans.plan_s": total("plans.plan") / n,
        "plans.fact_memo_hit_ratio": hits / len(fact_calls) if fact_calls else None,
        # A stream's action is its trigger (Spark's triggerExecution).
        "exec.action_s": (total("exec.action") + sum(r.get("trigger_s", 0.0) for r in stream)) / n,
        "exec.jobs": sum(len(st["jobs"]) for st in op_spark.values()) / n,
        "exec.stages": sums.get("stages", 0.0) / n,
        "exec.tasks": sums.get("tasks", 0.0) / n,
        "exec.executor_cpu_s": sums.get("executor_cpu_s", 0.0) / n,
        "exec.executor_run_s": sums.get("executor_run_s", 0.0) / n,
        "exec.gc_s": sums.get("gc_s", 0.0) / n,
        "exec.input_mb": sums.get("input_mb", 0.0) / n,
        "exec.shuffle_read_mb": sums.get("shuffle_read_mb", 0.0) / n,
        "exec.shuffle_write_mb": sums.get("shuffle_write_mb", 0.0) / n,
        "exec.spill_mb": sums.get("spill_mb", 0.0) / n,
        "operators.materialize.pins": sum(1 for s in spans if s["name"] == "operators.materialize.pin") / n,
        "operators.materialize.pin_s": total("operators.materialize.pin") / n,
        "operators.materialize.release_s": total("operators.materialize.release") / n,
        "operators.clustering.cc_s": total("operators.clustering.cc") / n,
        "operators.clustering.cc_jobs": jobs_within("operators.clustering.cc") / n,
        "operators.similarity.pairs_s": total("operators.similarity.pairs") / n,
        "streaming.wait_s": sum(r.latency_s - r.detail["trigger_s"] for r in results if "trigger_s" in r.detail) / n,
        "streaming.latest_offset_s": stream_total("latestOffset") / n,
        "streaming.query_planning_s": stream_total("queryPlanning") / n,
        "streaming.add_batch_s": stream_total("addBatch") / n,
        "streaming.wal_commit_s": stream_total("walCommit") / n,
        "streaming.batches_per_request": sum(r["batches"] for r in stream) / n,
        "operators.dedup.gate_s": gate / n,
        "sinks.append_ledger_s": total("sinks.append_ledger") / n,
        "sinks.ledger_files": 0.0,
        "sinks.ledger_mb": 0.0,
        "box.cores": float(box["cores"]),
        "box.steal_pct": box["steal_pct"] if box["steal_pct"] is not None else 0.0,
        "box.peak_rss_mb": box["peak_rss_mb"],
    }
    if hasattr(wl, "ledger_stats"):
        m.update(wl.ledger_stats())
    return m


# Per-layer metric -> (unit, better, the end-to-end metric and workload it
# should move). Times and counts are means per measured operation; the
# set-up layer's figures are medians over the run's set-ups.
SETUP = "setup_s on every workload"
CORPUS = "latency_p50_s and items_per_s on corpus_prep"
INGEST = "latency_p50_s and items_per_s on ingest_live"
READ = "latency_p50_s on dashboard_read"
LAYERS = {
    "session.start_s": ("s", "lower", SETUP),
    "setup.warmup_s": ("s", "lower", SETUP),
    "streaming.start_s": ("s", "lower", "setup_s on ingest_live"),
    "functions.adapter.normalize_s": ("s", "lower", "setup_s on ingest_live and dashboard_read"),
    "plans.construct_s": ("s", "lower", f"{READ}; {CORPUS}"),
    "plans.construct_jobs": ("jobs", "lower", f"{READ}; {CORPUS}"),
    "plans.plan_s": ("s", "lower", f"{READ}; {CORPUS}"),
    "plans.fact_memo_hit_ratio": ("ratio", "higher", READ),
    "exec.action_s": ("s", "lower", f"{READ}; {CORPUS}; {INGEST}"),
    "exec.jobs": ("jobs", "lower", f"{CORPUS}; {INGEST}"),
    "exec.stages": ("stages", "lower", f"{CORPUS}; {INGEST}"),
    "exec.tasks": ("tasks", "lower", f"{CORPUS}; {INGEST}"),
    "exec.executor_cpu_s": ("s", "lower", f"{CORPUS}; {INGEST}"),
    "exec.executor_run_s": ("s", "lower", f"{CORPUS}; {INGEST}"),
    "exec.gc_s": ("s", "lower", f"{CORPUS}; {INGEST}"),
    "exec.input_mb": ("MB", "lower", f"{CORPUS}; {INGEST}"),
    "exec.shuffle_read_mb": ("MB", "lower", f"{CORPUS}; {INGEST}"),
    "exec.shuffle_write_mb": ("MB", "lower", f"{CORPUS}; {INGEST}"),
    "exec.spill_mb": ("MB", "lower", f"{CORPUS}; {INGEST}"),
    "operators.materialize.pins": ("pins", "lower", f"{CORPUS}; {INGEST}"),
    "operators.materialize.pin_s": ("s", "lower", f"{CORPUS}; {INGEST}"),
    "operators.materialize.release_s": ("s", "lower", f"{CORPUS}; {INGEST}"),
    "operators.clustering.cc_s": ("s", "lower", CORPUS),
    "operators.clustering.cc_jobs": ("jobs", "lower", CORPUS),
    "operators.similarity.pairs_s": ("s", "lower", CORPUS),
    "streaming.wait_s": ("s", "lower", INGEST),
    "streaming.latest_offset_s": ("s", "lower", INGEST),
    "streaming.query_planning_s": ("s", "lower", INGEST),
    "streaming.add_batch_s": ("s", "lower", INGEST),
    "streaming.wal_commit_s": ("s", "lower", INGEST),
    "streaming.batches_per_request": ("batches", "lower", INGEST),
    "operators.dedup.gate_s": ("s", "lower", INGEST),
    "sinks.append_ledger_s": ("s", "lower", INGEST),
    "sinks.ledger_files": ("files", "lower", INGEST),
    "sinks.ledger_mb": ("MB", "lower", INGEST),
    "box.cores": ("cores", "higher", "none: context for noise"),
    "box.steal_pct": ("%", "lower", "none: context for noise"),
    # Peak RSS swings by half between same-code runs (JVM heap growth follows
    # GC timing), so it is reported here, without a bound, not end to end.
    "box.peak_rss_mb": ("MB", "lower", "none: memory of the driver JVM and Python workers"),
}


def _untraced_reference(records: str, stamp: dict) -> dict | None:
    best = None
    for path in glob.glob(os.path.join(records, f"{stamp['workload']}_seed{stamp['seed']}_*.json")):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        s = rec.get("stamp", {})
        if s.get("trace") == 0 and s.get("master") == stamp["master"] and s.get("seconds") == stamp["seconds"]:
            if best is None or s.get("started_utc", "") > best["stamp"].get("started_utc", ""):
                best = rec
    return best


def _write_record(records: str, stem: str, record: dict) -> str:
    os.makedirs(records, exist_ok=True)
    path = os.path.join(records, stem + ".json")
    with open(path, "x") as fh:  # never overwrite an earlier run's record
        json.dump(record, fh, indent=1, default=str)
    return path


def main(argv=None) -> int:
    from .workloads import WORKLOADS, OpResult

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG!r} not found next to {BENCH_DIR}", file=sys.stderr)
        return 2

    # A terminated run still stops its JVM (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    started = dt.datetime.now(dt.timezone.utc)
    stem = (f"{args.workload}_seed{args.seed}_local{cores}_trace{args.trace}_"
            f"{started.strftime('%Y%m%dT%H%M%S%fZ')}_{os.getpid()}")
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", stem)
    records = os.path.join(state, "records")
    _prepare_env(work, cores)

    from . import stats
    from .trace import StatusStore, Tracer, install

    tracer = Tracer() if args.trace else None
    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "master": f"local[{cores}]", "nproc": cores,
        "host_cpus": os.cpu_count(), "started_utc": started.isoformat(), "python": sys.version.split()[0],
    }
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        # The oracle answers are computed while the first, cold set-up runs
        # and are waited for before the next one starts: the cold set-up is
        # always the slowest of the three, so the overlap cannot move the
        # reported median.
        import quill_agent_dashboard_pbi_etl_spark.plans.extensions  # noqa: F401

        oracle_times: list[float] = []

        def compute_oracle() -> None:
            t = time.perf_counter()
            wl.prepare_oracle()
            oracle_times.append(time.perf_counter() - t)

        oracle_thread = threading.Thread(target=compute_oracle, name="oracle")
        oracle_thread.start()
        if tracer is not None:
            install(tracer)

        setups = []
        for rep in range(SETUP_REPS):
            if tracer is not None:
                tracer.op = f"setup{rep}"
            t0 = time.perf_counter()
            spark = _start_session(work)
            t1 = time.perf_counter()
            if rep == 0:  # cold: JVM start and compiled-code warm-up, once per process
                wl.prime(spark)
            t2 = time.perf_counter()
            phases = wl.setup(spark)
            rec = {"setup_s": time.perf_counter() - t0, "session.start_s": t1 - t0,
                   "prime_s": t2 - t1, **phases}
            if tracer is not None:
                rec["functions.adapter.normalize_s"] = sum(
                    s["end"] - s["start"] for s in tracer.spans
                    if s["op"] == f"setup{rep}" and s["name"] == "functions.adapter.normalize"
                )
            setups.append(rec)
            if rep == 0:
                oracle_thread.join()
                if not oracle_times:
                    raise RuntimeError("oracle computation failed")
            if rep < SETUP_REPS - 1:
                wl.reset(spark)
                spark.stop()
        oracle_s = oracle_times[0]

        from pyspark import SparkContext

        store = StatusStore(spark) if tracer is not None else None
        stream_group = str(wl.query.runId) if getattr(wl, "query", None) is not None else None
        results, op_spark = [], {}
        ticks0 = stats.cpu_ticks()
        with stats.RssSampler(SparkContext._gateway.proc.pid) as rss:
            t_start = time.perf_counter()
            i = 0
            while not (i % wl.block == 0 and time.perf_counter() - t_start >= args.seconds):
                if tracer is not None:
                    tracer.op = i
                t0 = time.perf_counter()
                try:
                    res = wl.op(spark, i)
                except Exception as e:  # counted as failed; the loop goes on
                    res = OpResult(time.perf_counter() - t0, 0, False, f"{type(e).__name__}: {e}")
                t1 = time.perf_counter()
                if res is None:
                    break
                results.append(res)
                if store is not None:
                    op_spark[i] = _op_spark_metrics(store, tracer, i, t0, t1, stream_group)
                i += 1
            wall = time.perf_counter() - t_start
        box = {"cores": cores, "steal_pct": stats.steal_pct(ticks0, stats.cpu_ticks())}
        box["peak_rss_mb"] = rss.peak_mb
        layers = _layer_metrics(tracer, wl, results, op_spark, setups, box) if tracer else {}
        wl.close(spark)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    lat = [r.latency_s for r in results]
    failed = sum(1 for r in results if not r.ok)
    items = sum(r.items for r in results)
    e2e = {
        "setup_s": (stats.median([s["setup_s"] for s in setups]), "s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "items_per_s": (items / sum(lat) if lat else 0.0, "items/s"),
    }
    p90 = stats.tail_percentile(lat, 90)
    out = print
    out(f"perfbench {args.workload} seed={args.seed} {stamp['master']} nproc={stamp['nproc']} "
        f"trace={args.trace} steal={box['steal_pct'] if box['steal_pct'] is None else round(box['steal_pct'], 2)}% "
        f"gen_s={gen_s:.3f} oracle_s={oracle_s:.3f} wall_s={wall:.3f}")
    out(f"  setup_s         {e2e['setup_s'][0]:.4f} s  (median of {len(setups)} set-ups: "
        + ", ".join(f"{s['setup_s']:.3f}" for s in setups) + ")")
    out(f"  latency_p50_s   {e2e['latency_p50_s'][0]:.4f} s  (n={len(lat)})")
    out("  latency_p90_s   " + (f"{p90:.4f} s  (n={len(lat)})" if p90 is not None
                               else f"withheld  (n={len(lat)}; needs >= {stats.MIN_BEYOND} samples above it)"))
    out(f"  {wl.rate_name:<15} {e2e['items_per_s'][0]:.4f} {wl.item_unit}  (n={len(lat)} operations, {items} items)")
    out(f"  failed_share    {failed}/{len(results)} failed/attempted")
    out(f"  peak_rss_mb     {box['peak_rss_mb']:.1f} MB  (driver JVM + Python workers)")
    for r in results:
        if not r.ok:
            out(f"  FAILED: {r.error}")

    record = {
        "stamp": stamp, "box": box, "gen_s": gen_s, "oracle_s": oracle_s, "setups": setups,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "latency_p90_s": p90, "failed": failed, "attempted": len(results),
        "ops": [{"latency_s": r.latency_s, "items": r.items, "ok": r.ok, "error": r.error,
                 **{k: v for k, v in r.detail.items() if k != "durations_ms"}} for r in results],
    }
    if tracer is not None:
        record["per_layer"] = layers
        ref = _untraced_reference(records, stamp)
        if ref is not None:
            base = ref["end_to_end"]["latency_p50_s"]["value"]
            record["tracing_overhead"] = {
                "latency_p50_s": e2e["latency_p50_s"][0] - base,
                "share": (e2e["latency_p50_s"][0] - base) / base if base else None,
                "untraced_record": ref["stamp"]["started_utc"],
            }
        over = record.get("tracing_overhead")
        out("  tracing overhead: " + (
            f"{over['latency_p50_s']:+.4f} s latency_p50_s ({over['share']:+.1%}) vs untraced run "
            f"{over['untraced_record']}" if over else "no untraced record of this workload and seed yet"))
        for k, v in layers.items():
            unit, _better, moves = LAYERS[k]
            shown = f"{v:12.4f}" if v is not None else f"{'absent':>12}"
            out(f"  {k:<34} {shown} {unit:<7} moves {moves}")
        os.makedirs(records, exist_ok=True)
        tracer.dump(os.path.join(records, stem + ".spans.jsonl"))
    path = _write_record(records, stem, record)
    out(f"  record: {os.path.relpath(path, ROOT)}")

    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()} if not args.trace
               else {k: {"value": v, "unit": LAYERS[k][0]} for k, v in layers.items() if v is not None})
    print(json.dumps({"correct": failed == 0 and bool(results), "attempted": max(1, len(results)),
                      "failed": failed if results else 1, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the benchmark as a package, never its files as top-level modules
    from perfbench.run import main as _main

    sys.exit(_main())
