"""The benchmark's three workloads, each a closed loop with one client.

A workload generates its inputs from the seed and computes the oracle
answers. ``prime`` runs once, in the first (cold) session, and warms the
JVM's compiled code on a tiny input; ``setup`` is the per-session set-up
(stream start and a first operation) and runs in every session, ``reset``
tearing one down before the next. Then ``op(i)`` runs until the run's time is
up, always finishing the current block of ``block`` operations so every run
carries the same operation mix.

Every operation calls ``operators.materialize.release_dead_blocks`` before
it returns, inside its timed interval: a library user running one query
after another pays that hygiene too.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen, oracle

@dataclass
class OpResult:
    latency_s: float
    items: int
    ok: bool
    error: str | None = None
    detail: dict = field(default_factory=dict)


def _release(spark, tracer) -> None:
    from quill_agent_dashboard_pbi_etl_spark.operators.materialize import release_dead_blocks

    if tracer is None:
        release_dead_blocks(spark)
    else:
        with tracer.span("operators.materialize.release"):
            release_dead_blocks(spark)


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


class _Collected:
    """Runs registry queries with construction, planning and execution as
    separate spans (and job groups) in the traced run."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer

    def run(self, spark, name: str, data_dir: str, op: int, part: int = 0):
        from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401  registers corpus queries
        from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES

        tr = self.tracer
        if tr is None:
            _set_group(spark, f"op{op}")
            df = QUERIES[name](spark, data_dir)
            return df.columns, df.collect()
        _set_group(spark, f"op{op}.{part}.construct")
        with tr.span("plans.construct"):
            df = QUERIES[name](spark, data_dir)
        _set_group(spark, f"op{op}.{part}.exec")
        with tr.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("exec.action"):
            rows = df.collect()
        return df.columns, rows


class DashboardRead:
    """The analytic layer Power BI reads: a seeded sequence of registry
    queries over a generated events table, results collected into Python and
    hashed against the DuckDB oracle. One block is one round that runs each
    query once, in an order drawn from the seed."""

    name = "dashboard_read"
    rate_name, item_unit = "queries_per_s", "queries/s"
    QUERIES = (
        "daily_rollup", "goal_attainment", "pace_color",
        "time_filter_today", "time_filter_yesterday", "time_filter_this_week",
        "time_filter_last_week", "time_filter_this_month", "time_filter_last_month",
        "time_filter_custom_range", "rollup_grouping_sets", "cumulative_agent_counts",
        "events_in_shift", "star_join_enriched",
    )
    N_EVENTS = 100_000
    N_AGENTS = 1_500
    WARM_EVENTS = 2_000

    def __init__(self, root: str, seed: int, tracer) -> None:
        self.root, self.seed, self.tracer = root, seed, tracer
        self.data = os.path.join(root, "data")
        self.warm = os.path.join(root, "warm")
        self.block = len(self.QUERIES)
        self.runner = _Collected(tracer)

    def generate(self) -> None:
        gen.write_events(self.data, self.seed, self.N_EVENTS, self.N_AGENTS)
        gen.write_events(self.warm, self.seed + 1, self.WARM_EVENTS, 50)

    def prepare_oracle(self) -> None:
        self.expected = oracle.oracle_hashes(self.data, self.QUERIES)

    def prime(self, spark) -> None:
        for i, name in enumerate(self.QUERIES):
            self.runner.run(spark, name, self.warm, op=f"prime{i}")
        _release(spark, self.tracer)

    def setup(self, spark) -> dict:
        # The dashboard's first query, which fills the session's adapter
        # plan memo for the events table.
        t = time.perf_counter()
        self.runner.run(spark, self.QUERIES[0], self.data, op="warm")
        _release(spark, self.tracer)
        return {"setup.warmup_s": time.perf_counter() - t}

    def reset(self, spark) -> None:
        pass

    def op(self, spark, i: int) -> OpResult:
        rnd, pos = divmod(i, self.block)
        order = np.random.default_rng([self.seed, 4, rnd]).permutation(self.block)
        name = self.QUERIES[int(order[pos])]
        t0 = time.perf_counter()
        cols, rows = self.runner.run(spark, name, self.data, op=i)
        _release(spark, self.tracer)
        dt = time.perf_counter() - t0
        got = oracle.result_hash(cols, rows)
        ok = got == self.expected[name]
        err = None if ok else f"{name}: {got[1]} rows, oracle {self.expected[name][1]} rows, hashes differ"
        return OpResult(dt, 1, ok, err, {"query": name})

    def close(self, spark) -> None:
        pass


class CorpusPrep:
    """The north-star corpus operators: one operation is one pass of
    ``corpus_pipeline_full`` plus ``semantic_dup_clusters`` over a generated
    corpus, both outputs collected and hashed against the oracle."""

    name = "corpus_prep"
    rate_name, item_unit = "docs_per_s", "docs/s"
    QUERIES = ("corpus_pipeline_full", "semantic_dup_clusters")
    N_DOCS = 2_000
    N_VECS = 800
    WARM_DOCS = 12
    WARM_VECS = 6

    def __init__(self, root: str, seed: int, tracer) -> None:
        self.root, self.seed, self.tracer = root, seed, tracer
        self.data = os.path.join(root, "data")
        self.warm = os.path.join(root, "warm")
        self.block = 1
        self.runner = _Collected(tracer)

    def generate(self) -> None:
        gen.write_corpus(self.data, self.seed, self.N_DOCS, self.N_VECS)
        gen.write_corpus(self.warm, self.seed + 1, self.WARM_DOCS, self.WARM_VECS)

    def prepare_oracle(self) -> None:
        self.expected = oracle.oracle_hashes(self.data, self.QUERIES)

    def _pass(self, spark, data_dir: str, op) -> list:
        out = []
        for part, name in enumerate(self.QUERIES):
            out.append(self.runner.run(spark, name, data_dir, op=op, part=part))
        _release(spark, self.tracer)
        return out

    def prime(self, spark) -> None:
        self._pass(spark, self.warm, "prime")

    def setup(self, spark) -> dict:
        # The session's first jobs: open both input tables, which also fills
        # the session's table-plan memo for them.
        from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

        t = time.perf_counter()
        _set_group(spark, "warm")
        for table in ("documents", "embeddings"):
            load_table(spark, self.data, table).count()
        return {"setup.warmup_s": time.perf_counter() - t}

    def reset(self, spark) -> None:
        pass

    def op(self, spark, i: int) -> OpResult:
        t0 = time.perf_counter()
        results = self._pass(spark, self.data, i)
        dt = time.perf_counter() - t0
        errors = []
        for name, (cols, rows) in zip(self.QUERIES, results):
            got = oracle.result_hash(cols, rows)
            if got != self.expected[name]:
                errors.append(f"{name}: {got[1]} rows, oracle {self.expected[name][1]} rows, hashes differ")
        return OpResult(dt, self.N_DOCS, not errors, "; ".join(errors) or None)

    def close(self, spark) -> None:
        pass


class IngestLive:
    """Webhook ingest into the star schema behind the TTL ledger. One
    operation lands one envelope file in the watched directory and blocks on
    ``processAllAvailable()`` of the running ledger-gated sink; latency runs
    from the landing to the commit. One block is four requests, one of each
    size in ``gen.BLOCK_SIZES``."""

    name = "ingest_live"
    rate_name, item_unit = "events_per_s", "envelopes/s"
    N_REQUESTS = 48
    LEDGER_KEYS = 1_000_000

    def __init__(self, root: str, seed: int, tracer) -> None:
        self.root, self.seed, self.tracer = root, seed, tracer
        self.inputs = os.path.join(root, "inputs")
        self.block = len(gen.BLOCK_SIZES)
        self.query = None
        self.rep = -1

    def generate(self) -> None:
        self.files = gen.write_ingest(self.inputs, self.seed, self.N_REQUESTS, self.LEDGER_KEYS)

    def prepare_oracle(self) -> None:
        self.valid, self.live = oracle.ingest_expectation(
            self.files["pool"], self.files["ledger"], gen.NOW_EPOCH
        )
        self.accepted: set[str] = set()

    def _paths(self) -> dict:
        base = os.path.join(self.root, f"stream{self.rep}")
        return {k: os.path.join(base, k) for k in ("landing", "ledger", "out", "ckpt")}

    def setup(self, spark) -> dict:
        from quill_agent_dashboard_pbi_etl_spark.functions.adapter import normalize_webhooks
        from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
            envelopes_to_webhook_shape,
            read_envelope_stream,
            start_ledger_gated_fact_sink,
        )

        self.rep += 1
        p = self._paths()
        os.makedirs(p["landing"])
        shutil.copytree(self.files["ledger"], p["ledger"])
        self.last_batch = -1
        t = time.perf_counter()
        fact = normalize_webhooks(envelopes_to_webhook_shape(read_envelope_stream(spark, p["landing"])))
        self.query = start_ledger_gated_fact_sink(
            fact, p["ledger"], p["out"], p["ckpt"], trigger_seconds=0, now_epoch=gen.NOW_EPOCH
        )
        t_started = time.perf_counter()
        warm = self.files["warm"]
        self._deliver(warm["path"], "warm", warm["lines"])
        t_warm = time.perf_counter()
        return {"streaming.start_s": t_started - t, "setup.warmup_s": t_warm - t_started}

    def _deliver(self, src: str, tag: str, lines: int) -> list[dict]:
        """Land ``src`` and wait until the stream has committed every line of
        it; returns the progress reports of the batches that carried it."""
        dst = os.path.join(self._paths()["landing"], f"{tag}.jsonl")
        shutil.copyfile(src, dst + ".tmp")
        os.replace(dst + ".tmp", dst)
        got, progress = 0, []
        deadline = time.monotonic() + 120
        while got < lines:
            if time.monotonic() > deadline:
                raise TimeoutError(f"stream committed {got} of {lines} rows of {tag}")
            self.query.processAllAvailable()
            for pr in self.query.recentProgress:
                if pr.batchId > self.last_batch and pr.numInputRows > 0:
                    progress.append(pr)
                    got += pr.numInputRows
                    self.last_batch = pr.batchId
        return progress

    def prime(self, spark) -> None:
        pass  # the first session's stream start and warm request are its own warm-up

    def reset(self, spark) -> None:
        self.query.stop()
        self.query = None

    def op(self, spark, i: int) -> OpResult | None:
        if i >= len(self.files["requests"]):
            return None
        req = self.files["requests"][i]
        out_before = set(glob.glob(os.path.join(self._paths()["out"], "gen=*", "batch_id=*")))
        t0 = time.perf_counter()
        progress = self._deliver(req["path"], f"req{i:05d}", req["lines"])
        _release(spark, self.tracer)
        dt = time.perf_counter() - t0
        new_dirs = sorted(set(glob.glob(os.path.join(self._paths()["out"], "gen=*", "batch_id=*"))) - out_before)
        written = oracle.written_keys(new_dirs)
        expected = (set(req["events"]) & self.valid) - self.live - self.accepted
        self.accepted |= expected
        ok = len(written) == len(set(written)) and set(written) == expected
        err = None if ok else (
            f"request {i}: wrote {len(written)} rows ({len(set(written))} keys), oracle {len(expected)} keys"
        )
        detail = {
            "batches": len(progress),
            "trigger_s": sum(pr.durationMs.get("triggerExecution", 0) for pr in progress) / 1e3,
            "durations_ms": [dict(pr.durationMs) for pr in progress],
        }
        return OpResult(dt, req["lines"], ok, err, detail)

    def ledger_stats(self) -> dict:
        files = glob.glob(os.path.join(self._paths()["ledger"], "**", "*.parquet"), recursive=True)
        return {
            "sinks.ledger_files": len(files),
            "sinks.ledger_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        }

    def close(self, spark) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (IngestLive, DashboardRead, CorpusPrep)}
