"""The correctness gate in miniature: every oracle-backed registry query must
be row-identical between Spark and DuckDB at sf0.001 (the driver runs the same
comparison at sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
from quill_agent_dashboard_pbi_etl_spark.plans.registry import ORACLES, QUERIES

from conftest import SF_SMALL, cc_lane

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if v is None:
        return "\x00__NULL__"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


def _spark_result(spark, name):
    """(sorted column names, rows sorted by repr) — order-insensitive."""
    sdf = QUERIES[name](spark, SF_SMALL)
    scols = sorted(sdf.columns)
    srows = sorted((tuple(_norm(r[c]) for c in scols) for r in sdf.collect()), key=repr)
    return scols, srows


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    scols, srows = _spark_result(spark, name)

    rel = duck.sql(ORACLES[name])
    idx = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    dcols = [rel.columns[i] for i in idx]
    drows = sorted((tuple(_norm(row[i]) for i in idx) for row in rel.fetchall()), key=repr)

    assert scols == dcols
    assert len(srows) == len(drows)
    assert srows == drows


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize(
    "name",
    ["corpus_pipeline_full", "dedup_survivors", "dup_clusters", "semantic_dup_clusters"],
)
def test_cc_queries_lane_invariant(spark, name):
    """Lane-invariance canary: the connected-components queries return the
    same rows with the default broadcast threshold (driver lane) as with
    ``autoBroadcastJoinThreshold=-1`` (loop lane, and no broadcast joins
    anywhere in the plan)."""
    default = _spark_result(spark, name)
    with cc_lane(spark, "loop"):
        forced = _spark_result(spark, name)
    assert forced == default
