"""DuckDB oracles and order-insensitive result hashes.

The expected answer of every checked operation comes from the registry's own
oracle SQL (``plans.registry.ORACLES``) run by DuckDB over the same generated
files the engine reads; the ingest expectation applies the ``ledger_gate``
oracle's rule (normalized keys not live in the ledger) to the generated
events and the seeded ledger.
"""

from __future__ import annotations

import hashlib
import math

TABLES = ("events", "documents", "embeddings")


def _norm(v):
    if v is None:
        return "\x00__NULL__"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def result_hash(columns: list[str], rows) -> tuple[str, int]:
    """(sha256, row count) of a result, independent of row and column order.
    Floats are rounded to 9 places, as the registry's oracle tests do."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in idx]
    lines = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256(repr(cols).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), len(lines)


def _connect(data_dir: str):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_hashes(data_dir: str, names) -> dict[str, tuple[str, int]]:
    """Hash of each named registry query's oracle answer over ``data_dir``."""
    from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
    from quill_agent_dashboard_pbi_etl_spark.plans.registry import ORACLES

    con = _connect(data_dir)
    try:
        out = {}
        for name in names:
            rel = con.sql(ORACLES[name])
            out[name] = result_hash(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def ingest_expectation(pool_path: str, ledger_dir: str, now_epoch: int) -> tuple[set, set]:
    """(EventIDs the adapter keeps from the events pool, keys live in the
    seeded ledger at ``now_epoch``). A request's expected output is its keys
    in the first set, minus the second, minus keys earlier requests wrote —
    the ``ledger_gate`` oracle applied request by request."""
    import os

    from quill_agent_dashboard_pbi_etl_spark.sources.webhook_mapping import NORMALIZED_CTE

    con = _connect(os.path.dirname(pool_path))
    try:
        con.sql(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{pool_path}')")
        valid = {r[0] for r in con.sql(f"WITH {NORMALIZED_CTE} SELECT EventID FROM normalized").fetchall()}
        live = {
            r[0]
            for r in con.sql(
                f"SELECT pk FROM read_parquet('{ledger_dir}/*.parquet') WHERE expiresAt >= {now_epoch}"
            ).fetchall()
        }
        return valid, live
    finally:
        con.close()


def written_keys(batch_dirs: list[str]) -> list[str]:
    """EventIDs in the sink's output for the given batch directories."""
    import glob

    import pyarrow.parquet as pq

    keys: list[str] = []
    for d in batch_dirs:
        for f in sorted(glob.glob(f"{d}/**/*.parquet", recursive=True)):
            keys.extend(pq.read_table(f, columns=["EventID"]).column(0).to_pylist())
    return keys
