"""A/B the two exact-gate shapes for the SMALL-BATCH regime: plain
left-anti join vs ``dedup.anti_join_small_left`` (broadcast the batch's
keys -> semi-join the ledger down -> anti-join against the tiny result),
against a 100M-row ledger.

Context: the r13 streaming layout A/B caught the plain anti-join building
a 10.7M-key broadcast hash per trigger when partition pruning dropped the
live side's estimate under the broadcast threshold; the inverted shape
fixed the drain (0.34x -> 1.05x). This probe prices the two shapes
head-to-head in the BATCH operator context — the per-trigger unit cost a
1000-executor deployment pays at every SLA-paced micro-batch — on the
flat layout (shown layout-neutral for gates), where the plain shape runs
its best case (sort-merge join, no broadcast flip).

Falsifiable both ways: the inverted shape's claim is that it never
shuffles or hash-builds the live side, so at a small batch it should win
by roughly the join's shuffle share; if the semi-join's extra pass over
the ledger costs more than the shuffle it replaces, plain wins and that
gets recorded. (Measured r13: at a 100M-key FLAT ledger — healthy
sort-merge regime — plain WINS, 0.78×; the inverted shape's payoff
regime is the broadcast FLIP, reproduced here with ``layout=part`` at a
row count whose pruned estimate lands under the session's 64 MB
threshold: the planner hash-builds every live key, the inverted shape
doesn't.)

Protocol: one FRESH JVM per cell, alternated order (plain,inv,inv,plain),
min-of-2, ``ambient_suspect`` at measurement time, survivors asserted
equal across shapes. Ledger + events built inside each child before the
timer; timer covers ONE gate (read -> anti-join -> survivor count).

Results -> SCALE_LADDER.json["small_batch_gate"].

Usage:
    SPARK_GRAFT_DRIVER_MEM=16g python tools/probe_small_batch_gate.py \
        [n_rows] [n_events] [flat|part]
    # child mode (internal): --cell <plain|inverted> <n_rows> <n_events> <layout>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe_common import ambient_suspect  # noqa: E402

# Cells measured before the inverted shape dropped its two dropDuplicates
# (each an aggregate + shuffle) are keyed without this suffix.
INVERTED_SHAPE = "shuffle_free"
N_ROWS_DEFAULT = 100_000_000
N_EVENTS_DEFAULT = 12_500  # one SLA-paced micro-batch
N_DAYS = 15
NOW_EPOCH = 1_705_000_000
DAY = 86_400


def run_cell(
    strategy: str, n_rows: int, n_events: int, layout: str, reps: int = 1
) -> None:
    """``reps > 1`` re-times the SAME gate in one JVM (fresh DataFrame per
    rep, so nothing reuses the previous rep's broadcast/exchange) — the
    per-TRIGGER regime a streaming sink actually pays, where the scan is
    page-cached and the join strategy's own cost dominates. Rep 0 is the
    cold cell; the steady state is the min over later reps."""
    import time

    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark import sinks
    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import (
        anti_join_small_left,
        probe_volume_estimate,
    )
    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    spark = get_spark(app_name=f"small-batch-gate-{strategy}")
    spark.sparkContext.setLogLevel("ERROR")

    base = NOW_EPOCH - (N_DAYS // 2) * DAY
    entries = spark.range(n_rows).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("pk"),
        F.timestamp_seconds(F.lit(NOW_EPOCH - 14 * DAY)).alias("seenAt"),
        (F.lit(base) + (F.col("id") % N_DAYS) * DAY + (F.col("id") % DAY)).alias(
            "expiresAt"
        ),
    )
    tmp = tempfile.mkdtemp(prefix=f"sbg_{strategy}_")
    ledger = os.path.join(tmp, "ledger")
    # flat = the plain shape's best (sort-merge) case; part at ~20M rows
    # reproduces the broadcast-flip regime (pruned estimate < threshold)
    sinks.append_ledger(entries, ledger, partition_by_expiry=(layout == "part"))

    events_path = os.path.join(tmp, "events")
    (
        spark.range(n_events)
        .select(
            F.when(
                F.col("id") % 2 == 0,
                F.concat(F.lit("pk-"), (F.col("id") * (n_rows // n_events))),
            )
            .otherwise(F.concat(F.lit("novel-"), F.col("id")))
            .alias("EventID")
        )
        .write.mode("overwrite")
        .parquet(events_path)
    )

    events = spark.read.parquet(events_path)
    walls, survivors = [], None
    for _ in range(max(1, reps)):
        t0 = time.perf_counter()
        live = (
            sinks.read_ledger(
                spark, ledger, now_epoch=(NOW_EPOCH if layout == "part" else None)
            )
            .filter(F.col("expiresAt") >= F.lit(NOW_EPOCH))
            .select(F.col("pk").alias("EventID"))
        )
        if strategy == "inverted":
            survivors = anti_join_small_left(events, live, "EventID").count()
        else:
            survivors = events.join(live, "EventID", "left_anti").count()
        walls.append(round(time.perf_counter() - t0, 3))
    live_est = probe_volume_estimate(live)
    print(
        json.dumps(
            {
                "strategy": strategy,
                "wall_sec": walls[0],
                # cold rep0 then warm reps — heterogeneous BY DESIGN, so
                # not named *_walls (the ambient annotator would flag the
                # intended cold/warm split as noise)
                "rep_wall_seq": walls,
                "warm_min_sec": (min(walls[1:]) if len(walls) > 1 else None),
                "survivors": survivors,
                # the plan-stat estimates gate_anti_join's selector reads
                "live_est_bytes": live_est,
                "events_est_bytes": probe_volume_estimate(events),
                "n_rows": n_rows,
                "n_events": n_events,
            }
        )
    )
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--cell":
        run_cell(
            sys.argv[2],
            int(sys.argv[3]),
            int(sys.argv[4]),
            sys.argv[5] if len(sys.argv) > 5 else "flat",
            int(sys.argv[6]) if len(sys.argv) > 6 else 1,
        )
        return
    argv = list(sys.argv[1:])
    reps = 1
    if "--warm" in argv:
        i = argv.index("--warm")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    n_rows = int(argv[0]) if len(argv) > 0 else N_ROWS_DEFAULT
    n_events = int(argv[1]) if len(argv) > 1 else N_EVENTS_DEFAULT
    layout = argv[2] if len(argv) > 2 else "flat"

    order = [("plain", 1), ("inverted", 1), ("inverted", 2), ("plain", 2)]
    cells: dict[str, dict] = {}
    for idx, (strategy, rnd) in enumerate(order):
        print(f"=== cell {idx}: {strategy} round {rnd} ===", file=sys.stderr)
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--cell",
                strategy,
                str(n_rows),
                str(n_events),
                layout,
                str(reps),
            ],
            capture_output=True,
            text=True,
            env=dict(os.environ),
            timeout=3600,
        )
        key = f"{strategy}_r{rnd}"
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            cells[key] = {
                "error": (proc.stderr.strip().splitlines() or ["?"])[-1][-300:],
                "ordering": idx,
            }
            continue
        cell = json.loads(proc.stdout.strip().splitlines()[-1])
        cell["ordering"] = idx
        cells[key] = cell
        print(json.dumps(cell), file=sys.stderr)

    survivor_counts = {c["survivors"] for c in cells.values() if "survivors" in c}
    assert len(survivor_counts) <= 1, f"shapes disagree on survivors: {cells}"

    summary: dict = {}
    for strategy in ("plain", "inverted"):
        walls = [
            c["wall_sec"]
            for k, c in cells.items()
            if k.startswith(strategy) and "wall_sec" in c
        ]
        if walls:
            summary[f"{strategy}_min_sec"] = min(walls)
            summary[f"{strategy}_walls"] = walls
            summary[f"{strategy}_ambient_suspect"] = ambient_suspect(walls)
        warm = [
            c["warm_min_sec"]
            for k, c in cells.items()
            if k.startswith(strategy) and c.get("warm_min_sec") is not None
        ]
        if warm:
            summary[f"{strategy}_warm_min_sec"] = min(warm)
            summary[f"{strategy}_warm_walls"] = warm
    if "plain_min_sec" in summary and "inverted_min_sec" in summary:
        summary["speedup_inverted_over_plain"] = round(
            summary["plain_min_sec"] / summary["inverted_min_sec"], 2
        )
    if "plain_warm_min_sec" in summary and "inverted_warm_min_sec" in summary:
        summary["warm_speedup_inverted_over_plain"] = round(
            summary["plain_warm_min_sec"] / summary["inverted_warm_min_sec"], 2
        )

    ladder_path = os.path.join(ROOT, "SCALE_LADDER.json")
    data = json.load(open(ladder_path)) if os.path.exists(ladder_path) else {}
    size = f"{n_rows // 1_000_000}m" if n_rows >= 1_000_000 else f"{n_rows // 1000}k"
    key = f"gate_n{size}_ev{n_events}_{layout}" + (
        f"_warm{reps}" if reps > 1 else ""
    ) + f"_{INVERTED_SHAPE}"
    data.setdefault("small_batch_gate", {})[key] = {
        "cells": cells,
        "summary": summary,
        "n_days": N_DAYS,
        "layout": layout,
        "inverted_shape": INVERTED_SHAPE,
        "note": (
            "Exact-gate shape A/B at one micro-batch: plain = events LEFT "
            "ANTI live (flat layout -> sort-merge, the plain shape's best "
            "case; part layout at ~20M rows -> the pruned estimate lands "
            "under the broadcast threshold and the planner hash-builds "
            "every live key, the flip regime), inverted = "
            "anti_join_small_left (broadcast batch keys -> semi-join "
            "ledger down -> anti-join; ledger scanned map-side once, "
            "never shuffled/hash-built). One fresh JVM per cell, "
            "alternated order, min-of-2; survivors asserted equal."
        ),
    }
    json.dump(data, open(ladder_path, "w"), indent=1)
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
