"""Time both lanes of ``clustering.connected_components`` at the boundary
between them, and measure the driver lane's Python memory per edge.

The driver lane runs when ``rows x clustering._EDGE_BYTES`` (rows = directed
edges) fits ``spark.sql.autoBroadcastJoinThreshold``; every bigger graph runs
the round loop. This probe builds one synthetic pair graph per size and runs
it twice, in alternated order, one fresh JVM per cell:

- ``driver``: threshold = rows x _EDGE_BYTES, the largest graph the lane
  accepts at that threshold;
- ``loop``: threshold = that minus one byte, the smallest graph past it —
  what the session would run with the same threshold one edge later.

The graph is shaped like a near-dup pair graph: half its edges in cliques
of 2-5 nodes, half in chains of 2-6 nodes (diameter <= 5, so the loop
converges inside ``max_iter``), node ids in random order. It is written
to parquet before the child starts, so the timer covers only the CC call
(edge pin + lane), not the graph's construction.

Per cell: wall seconds of the call, its job count, and an
order-insensitive result hash that must agree across lanes. Driver cells
then repeat the call untimed to measure its Python peak: tracemalloc's
peak (numpy, pandas) plus the Arrow pool's high-water mark, per directed
edge. The JVM side of the collect is not measured.

Results -> SCALE_LADDER.json["cc_lanes"].

Usage:
    python tools/probe_cc_lanes.py [directed_edges ...]
    # default sizes: 250k 1m 2m 4m 8m directed edges; SPARK_GRAFT_CPUS and
    # SPARK_GRAFT_DRIVER_MEM size the child sessions (defaults 4 and 4g)
    # child mode (internal): --cell <driver|loop> <parquet_dir> <rows>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe_common import ambient_suspect  # noqa: E402

DEFAULT_SIZES = [250_000, 1_000_000, 2_000_000, 4_000_000, 8_000_000]
SEED = 7


def build_graph(directed_edges: int, path: str) -> int:
    """Write ``directed_edges / 2`` undirected pairs (doc_a, doc_b) to
    ``path``; return the exact directed-edge count (two per pair)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    pairs = directed_edges // 2
    blocks: list = []
    next_id = 0
    # Cliques: 2-5 nodes, all pairs.
    clique_pairs = pairs // 2
    per_size = clique_pairs // 4
    for k in (2, 3, 4, 5):
        iu, ju = np.triu_indices(k, 1)
        n = max(1, per_size // len(iu))
        base = next_id + k * np.arange(n)[:, None]
        blocks.append(np.stack([(base + iu).ravel(), (base + ju).ravel()], 1))
        next_id += k * n
    # Chains: 2-6 nodes, consecutive nodes linked.
    done = sum(len(b) for b in blocks)
    lens = rng.integers(2, 7, size=max(1, (pairs - done) // 3))
    starts = next_id + np.concatenate([[0], np.cumsum(lens)[:-1]])
    node = np.repeat(starts, lens - 1) + (
        np.arange((lens - 1).sum()) - np.repeat(np.cumsum(lens - 1) - (lens - 1), lens - 1)
    )
    blocks.append(np.stack([node, node + 1], 1))
    next_id += int(lens.sum())
    edges = np.concatenate(blocks)
    # Random id order: the loop's hard case, and what real doc ids give.
    ids = rng.permutation(next_id).astype(np.int64) * 3 + 1
    edges = ids[edges]
    pq.write_table(
        pa.table({"doc_a": edges[:, 0], "doc_b": edges[:, 1]}), path
    )
    return 2 * len(edges)


def run_cell(lane: str, path: str, rows: int) -> None:
    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators import clustering
    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    budget = rows * clustering._EDGE_BYTES - (1 if lane == "loop" else 0)
    spark = get_spark(
        app_name=f"cc-lanes-{lane}",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": str(budget)},
    )
    sc = spark.sparkContext
    edges = spark.read.parquet(path)
    edges.agg(F.count(F.lit(1))).collect()  # warm the scan path
    group = f"cc-{lane}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    comp = clustering.connected_components(edges)
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    mem = {}
    if lane == "driver":
        # A second, untimed call under tracemalloc (numpy and pandas report
        # to it) plus the Arrow pool's high-water mark (collect + Arrow
        # conversion buffers): an upper bound on the lane's Python peak.
        import pyarrow as pa
        import tracemalloc

        tracemalloc.start()
        clustering.connected_components(edges)
        py_peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        arrow_peak = pa.default_memory_pool().max_memory()
        mem = {
            "py_peak_mb": round(py_peak / 2**20, 1),
            "arrow_peak_mb": round(arrow_peak / 2**20, 1),
            "peak_bytes_per_edge": round((py_peak + arrow_peak) / rows, 1),
        }
    sc.setJobGroup("hash", "hash")
    row = comp.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.countDistinct("cluster_id").alias("clusters"),
        F.sum(F.xxhash64("node", "cluster_id").cast("decimal(38,0)")).alias("hash"),
    ).first()
    print(
        json.dumps(
            {
                "lane": lane,
                "rows": rows,
                "threshold": budget,
                "wall_sec": round(wall, 3),
                "jobs": jobs,
                **mem,
                "nodes": row["nodes"],
                "clusters": row["clusters"],
                "hash": str(row["hash"]),
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--cell":
        run_cell(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return
    sizes = [int(a) for a in sys.argv[1:]] or DEFAULT_SIZES
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from quill_agent_dashboard_pbi_etl_spark.operators import clustering

    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as tmp:
        for target in sizes:
            path = os.path.join(tmp, f"edges_{target}.parquet")
            rows = build_graph(target, path)
            cells: dict[str, dict] = {}
            order = [("driver", 1), ("loop", 1), ("loop", 2), ("driver", 2)]
            for idx, (lane, rnd) in enumerate(order):
                print(f"=== {rows} rows: {lane} round {rnd} ===", file=sys.stderr)
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--cell", lane, path, str(rows)],
                    capture_output=True,
                    text=True,
                    env=env,
                    timeout=3600,
                )
                key = f"{lane}_r{rnd}"
                if proc.returncode != 0:
                    print(proc.stderr[-3000:], file=sys.stderr)
                    errors = [
                        ln for ln in proc.stderr.splitlines() if "Error" in ln or "Exception" in ln
                    ] or ["?"]
                    cells[key] = {
                        "error": errors[0].strip()[-300:],
                        "ordering": idx,
                    }
                    continue
                cell = json.loads(proc.stdout.strip().splitlines()[-1])
                cell["ordering"] = idx
                cells[key] = cell
                print(json.dumps(cell), file=sys.stderr)
            hashes = {(c["nodes"], c["hash"]) for c in cells.values() if "hash" in c}
            assert len(hashes) <= 1, f"lanes disagree: {cells}"
            summary: dict = {}
            for lane in ("driver", "loop"):
                walls = [c["wall_sec"] for k, c in cells.items() if k.startswith(lane) and "wall_sec" in c]
                if walls:
                    summary[f"{lane}_min_sec"] = min(walls)
                    summary[f"{lane}_walls"] = walls
                    summary[f"{lane}_ambient_suspect"] = ambient_suspect(walls)
            peaks = [c["peak_bytes_per_edge"] for c in cells.values() if "peak_bytes_per_edge" in c]
            if peaks:
                summary["driver_peak_bytes_per_edge"] = max(peaks)
            if "driver_min_sec" in summary and "loop_min_sec" in summary:
                summary["speedup_driver_over_loop"] = round(
                    summary["loop_min_sec"] / summary["driver_min_sec"], 2
                )
            results[f"rows_{rows}"] = {"cells": cells, "summary": summary}
            print(json.dumps({"rows": rows, "summary": summary}), file=sys.stderr)

    ladder_path = os.path.join(ROOT, "SCALE_LADDER.json")
    data = json.load(open(ladder_path)) if os.path.exists(ladder_path) else {}
    data["cc_lanes"] = {
        "edge_bytes": clustering._EDGE_BYTES,
        "cpus": env["SPARK_GRAFT_CPUS"],
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "sizes": results,
        "note": (
            "connected_components at the lane boundary: driver = threshold "
            "of exactly rows x _EDGE_BYTES, loop = one byte less. Synthetic "
            "pair graph (half 2-5 cliques, half 2-6 chains, random id "
            "order) read from parquet; the timer covers the CC call only. "
            "One fresh JVM per cell, alternated order, min-of-2; results "
            "asserted equal across lanes."
        ),
    }
    json.dump(data, open(ladder_path, "w"), indent=1)
    print(json.dumps({k: v["summary"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
