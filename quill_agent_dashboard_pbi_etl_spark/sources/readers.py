"""Batch source connectors (SURVEY.md §2.1).

S1/S2 (HTTP / Lambda webhook entry) collapse to a streaming JSON landing-dir
source in Spark — see ``streaming/pipeline.py``. This module covers the batch
readers: driver parquet tables, the S3 file-replay source, and the S4 roster
snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ROSTER_REPORT_SCHEMA

# Analyzed-plan memo (driver-overhead optimization, r14 — guide §5 "the
# driver should do almost no data work"). ``spark.read.parquet`` re-lists
# the path, re-reads the footer schema and re-analyzes the projection on
# EVERY call; a query family that constructs the same base scan dozens of
# times per session pays that driver-side cost each time (measured: ~0.19 s
# per load_table call, ~1.2 s per normalized_fact construction at bench
# scale). The memo holds the LAZY, analyzed DataFrame only — a view-like
# prepared plan. No data, no results and no shuffle output are retained:
# every action on the returned frame re-executes the scan from parquet
# (verified: repeated noop writes re-run all stages). Keyed by
# applicationId so a restarted context never sees a stale session's plan;
# entries are tiny (plan objects).
_TABLE_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, refresh: bool = False
) -> DataFrame:
    """Read one driver-generated parquet table.

    ``events.ts`` must land as a UTC-instant TimestampType (schemas.py declares
    ``receivedAt`` as TimestampType and the adapter calls ``unix_micros`` on
    it). The driver's parquet has shipped it two ways across rounds:

    * TIMESTAMP(NANOS) + ``spark.sql.legacy.parquet.nanosAsLong`` → int64
      nanoseconds; truncated here to µs (same ns→µs truncation DuckDB does).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) → ``timestamp_ntz``; cast to
      TimestampType. The session timezone is pinned to UTC, so the cast maps
      the wall clock to the same UTC instant DuckDB's naive TIMESTAMP carries
      — oracle hashes agree.

    The analyzed lazy plan is memoized per (session, path) — see
    ``_TABLE_PLAN_CACHE``. The file listing is snapshotted at first
    construction (same semantics as a SQL view's resolved file index within
    one session). The memoized tables are the driver's IMMUTABLE testdata;
    any code path that WRITES under ``sf_dir`` and re-reads through here must
    pass ``refresh=True`` (r15 staleness guard: a stale snapshot would
    silently miss the new files — no engine path does this today, the ledger
    readers in sinks.py/dedup.py own their paths and never route through
    this memo).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if not refresh:
        cached = _TABLE_PLAN_CACHE.get(key)
        if cached is not None:
            return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_PLAN_CACHE[key] = df
    return df


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy projection.

    The driver testdata is single-row-group parquet → Spark scans it as ONE
    task regardless of core count. For expression-heavy stages (JSON probing,
    regex, shingling) that serializes the whole pipeline, so we pay one cheap
    narrow-input shuffle to unlock N-way parallelism. On a real 100 TB layout
    (many files) the scan already parallelizes and this no-ops.

    The guard must count parquet ROW GROUPS, not nominal partitions, because
    the nominal count LIES for few-file parquet: Spark sizes byte-range
    splits to fill default parallelism, but a row group goes whole to the
    split holding its midpoint — a single 180 MB file with 13 row groups
    reports 32 scan partitions while only 13 carry rows (19 run empty).
    Measured on the sf30 ladder rung: the minhash signature stage ran at
    effective parallelism ~12/32, turning 3× data into ~9× wall and
    masquerading as super-linear scaling (SCALE.md, round 8). Row-group
    counts come from driver-side footer reads of ``df.inputFiles()`` —
    milliseconds for the few-file case that needs them, skipped entirely
    once ≥ min_parts files exist (the 100 TB layout). Non-parquet or
    unreadable-from-driver inputs (remote FS) and in-memory DataFrames fall
    back to the nominal partition-count guard, which is honest for
    byte-splittable sources.
    """
    if min_parts is None:
        sc = df.sparkSession.sparkContext
        min_parts = sc.defaultParallelism
    files = df.inputFiles()
    if len(files) >= min_parts:
        return df
    effective = None
    if files and all(f.endswith(".parquet") for f in files):
        try:
            import pyarrow.parquet as pq

            effective = sum(
                pq.ParquetFile(
                    f[len("file://"):] if f.startswith("file://") else f
                ).metadata.num_row_groups
                for f in files
            )
        except Exception:
            effective = None  # remote FS / odd layout → nominal guard below
    if effective is None:
        effective = df.rdd.getNumPartitions()
    if effective >= min_parts:
        return df
    return df.repartition(min_parts)


def replay_json_dir(
    spark: SparkSession,
    directory: str,
    pattern: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """S3 file-replay source (tools/harness/run-aloware.ts:35-48,61-69).

    Recursive listing, substring pattern filter on the file name, ``*.json``
    only, lexicographic order, first N files — expressed set-oriented: one
    distributed read + ``input_file_name`` predicates instead of the
    reference's driver-side loop.
    """
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .text(directory)
        .withColumn("file_name", F.input_file_name())
    )
    if pattern:
        df = df.filter(F.col("file_name").contains(pattern))
    if limit is not None:
        # Reference semantics: sort file names, take first N files (not rows).
        names = [
            r["file_name"]
            for r in sorted(df.select("file_name").distinct().collect())[:limit]
        ]
        df = df.filter(F.col("file_name").isin(names))
    return df.orderBy("file_name")


def load_roster_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """S4 roster source (dimagent.sync.service.ts:35-46).

    Reads a landed ring-group availability report JSON and projects
    ``testResults[].{id,name,email}`` into DimAgent rows
    (dimagent.sync.service.ts:39-45): null name/email → "", tz "" ,
    ActiveFlag true. The result is tiny (one ring group) — callers broadcast.
    """
    report = spark.read.schema(ROSTER_REPORT_SCHEMA).json(path)
    member = F.explode(F.coalesce(F.col("testResults"), F.array())).alias("m")
    return report.select(member).select(
        F.col("m.id").cast("string").alias("AgentID"),
        F.coalesce(F.col("m.name"), F.lit("")).alias("AgentName"),
        F.coalesce(F.col("m.email"), F.lit("")).alias("Email"),
        F.lit("").alias("TimezoneIANA"),
        F.lit(True).alias("ActiveFlag"),
    )
