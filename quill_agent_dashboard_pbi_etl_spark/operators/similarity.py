"""Embedding similarity search (north-star ops, BASELINE.json).

Brute-force cosine top-k as the exact baseline, an IVF-bucketed variant as the
scale path. All vector math stays JVM-side via higher-order functions
(``zip_with`` + ``aggregate``) over ``array<float>`` columns cast to double —
no Python in the hot loop; a Pandas-UDF path exists for BLAS-heavy workloads
(see ``functions/vectors.py``).

Scale shape: queries are broadcast (top-k against Q query vectors is a
broadcast nested-loop over the corpus — linear scan, embarrassingly parallel);
IVF replaces the full scan with a centroid-bucket equi-join, trading recall
for a ~n_clusters× scan reduction.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .materialize import local_frame


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] via zip_with + aggregate (JVM codegen, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus vectors
    (self-matches excluded). Returns (query_id, neighbor_id, rank, cosine_sim).

    The query side is broadcast; ranking uses the *rounded* similarity with an
    id tie-break so results are deterministic and engine-portable.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    scored = (
        c.join(broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.round(cosine(F.col("qvec"), F.col("cvec")), round_digits),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim")
    )


def _collect_centroids(
    centroids: DataFrame, vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Centroid DataFrame → driver-side (centroid_id, vector) rows, ordered by
    centroid_id. Centroid sets are model state (n_cells × dim doubles) —
    driver-sized BY DEFINITION, so this is a bounded collect, not a data-scale
    one. Values arrive as exact IEEE doubles (a float column widens exactly),
    so literal re-embedding preserves every bit."""
    return [
        (r["centroid_id"], [float(x) for x in r[vec_col]])
        for r in centroids.select("centroid_id", vec_col)
        .orderBy("centroid_id")
        .collect()
    ]


def _sql_double(x: float) -> str:
    """Exact SQL double literal for a Python float. ``repr`` emits the
    shortest correctly-rounded decimal that round-trips; Java's
    ``parseDouble`` (what Spark's lexer uses for ``...D`` literals) is also
    correctly rounded, so the parsed double is bit-identical. Non-finite
    values (never produced by the k-means means, handled defensively) go
    through the CAST spelling the lexer accepts."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


#: Plan-size guard for :func:`_nearest_cells` (r15, VERDICT what's-wrong 3):
#: the literal-embedded argmax projection inlines n_cells × dim double
#: literals into ONE SQL expression — ideal for bench-scale models (8 × 64 =
#: 512 elements) but a production IVF model (4096 cells × 768 dims ≈ 3M
#: literals) would blow plan size and parse time long before executor cost
#: matters. Above this element count the assignment falls back to the
#: broadcast-crossJoin + window shape (the pre-r14 plan), which computes the
#: same rounded cosine and the same (sim DESC, centroid_id ASC) order — rows
#: are identical either way (unit-tested both sides of the threshold).
MAX_LITERAL_CENTROID_ELEMS = 16384


def _centroid_norm(cvec: list[float]) -> float:
    """Driver-side l2 norm matching Spark's fold bit-for-bit: the SQL form
    was ``sqrt(aggregate(cvec, 0.0D, (acc, v) -> acc + v * v))`` — a
    left-to-right IEEE-double sum of squares then a correctly-rounded sqrt,
    which is exactly this loop (Python floats are IEEE doubles and
    ``math.sqrt`` is correctly rounded). Binding the result as ONE literal
    (ADVICE r14) halves the generated SQL (each centroid array was inlined
    twice: zip_with numerator + norm denominator) and drops a per-row O(dim)
    fold per centroid."""
    acc = 0.0
    for v in cvec:
        acc += v * v
    return math.sqrt(acc)


def _nearest_cells_crossjoin(
    vectors: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
) -> DataFrame:
    """Broadcast-crossJoin + window nearest-cell assignment — the shape for
    models too large to embed as plan literals (see
    ``MAX_LITERAL_CENTROID_ELEMS``). Same rounded cosine, same
    (sim DESC NaN-first, centroid_id ASC) order as the literal path: Spark
    orders NaN greatest, so ``desc`` puts it first, exactly like the literal
    comparator's ``>``/``<`` (NaN compares greater than any double in Spark
    semantics)."""
    cent_df = local_frame(
        vectors.sparkSession,
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in cent_rows],
        "centroid_id bigint, cvec array<double>",
    )
    scored = vectors.crossJoin(broadcast(cent_df)).withColumn(
        "__sim", F.round(cosine(F.col("vec"), F.col("cvec")), 6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= min(n_probe, len(cent_rows)))
        .select(id_col, "centroid_id", "vec")
    )


def _nearest_cells(
    vectors: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    max_literal_elems: int | None = None,
) -> DataFrame:
    """Narrow nearest-cell assignment against a driver-side centroid list
    (r14, guide §2.4 "remove shuffles outright"): the old shape cross-joined
    every vector with the broadcast centroid set (n_cells× row blowup) and
    picked the argmax with a row_number window — one full Exchange + Sort per
    assignment call, five calls per trained-IVF query. Centroids are
    model-sized, so they embed as literal arrays and the argmax becomes a
    pure projection evaluated inside the scan stage: per row, build
    (sim, centroid_id) structs, sort with a comparator that reproduces the
    window's exact order (sim DESC with Spark's NaN-greatest-first semantics,
    centroid_id ASC tie-break), keep the first ``n_probe``. Zero exchanges.
    The cosine expression and 6-dp round are byte-identical to the old path,
    so assignments — and everything downstream — are unchanged (A/B-verified
    exact at sf0.001/0.01/0.1).

    Driver-cost note (r14 measurement): the whole projection is composed as
    ONE ``F.expr`` SQL string — building it Column-by-Column cost one py4j
    round trip per centroid element (n_cells × dim ≈ 512 ``F.lit`` calls per
    invocation, ~6 s of pure driver time per call on the bench box; the SQL
    parser ingests the same expression tree in one call). The SQL spellings
    (``aggregate(zip_with(...))`` for the dot product, ``0.0D`` seeds,
    ``CASE`` comparator) parse to exactly the Catalyst expressions the
    Column API built, so the arithmetic — and every downstream result — is
    unchanged (oracle + pinned-output tests).

    r15: the vector norm is hoisted to a once-per-row ``__vnorm`` column and
    each centroid's norm is driver-bound as one literal (ADVICE r14 — halves
    the SQL text and drops two O(dim) folds per centroid per row; values are
    bit-identical, gated by the construction-equivalence test). Models larger
    than ``max_literal_elems`` total elements (default
    ``MAX_LITERAL_CENTROID_ELEMS``) use the broadcast-crossJoin shape instead
    — identical rows, plan-sized O(1) in the model.

    Expects ``vectors`` to carry (id_col, vec: array<double>).
    """
    if not cent_rows:
        # Degenerate empty model: the old crossJoin produced zero rows.
        return vectors.select(
            F.col(id_col), F.lit(None).cast("long").alias("centroid_id"), "vec"
        ).filter(F.lit(False))

    limit = (
        MAX_LITERAL_CENTROID_ELEMS if max_literal_elems is None else max_literal_elems
    )
    if sum(len(cvec) for _, cvec in cent_rows) > limit:
        return _nearest_cells_crossjoin(vectors, cent_rows, n_probe, id_col)

    def cos_sql(carr: str, cnorm: float) -> str:
        # Mirrors cosine()/dot()/l2_norm() above expression-for-expression;
        # the vector norm is hoisted to the __vnorm column (computed once per
        # row, referenced per centroid — CollapseProject keeps non-cheap
        # multi-referenced aliases un-inlined) and the centroid norm is a
        # driver-bound literal (see _centroid_norm: bit-identical fold).
        return (
            f"aggregate(zip_with(vec, {carr}, (x, y) -> x * y), 0.0D,"
            " (acc, v) -> acc + v)"
            f" / (__vnorm * {_sql_double(cnorm)})"
        )

    cell_sql = ", ".join(
        "named_struct('sim', round("
        + cos_sql(
            "array(" + ", ".join(_sql_double(float(x)) for x in cvec) + ")",
            _centroid_norm([float(x) for x in cvec]),
        )
        + f", 6), 'centroid_id', CAST({int(cid)} AS BIGINT))"
        for cid, cvec in cent_rows
    )
    ranked = F.expr(
        f"slice(array_sort(array({cell_sql}), (l, r) -> "
        "CASE WHEN l.sim > r.sim THEN -1 WHEN l.sim < r.sim THEN 1 "
        "WHEN l.centroid_id < r.centroid_id THEN -1 "
        "WHEN l.centroid_id > r.centroid_id THEN 1 ELSE 0 END), "
        f"1, {min(n_probe, len(cent_rows))})"
    )
    with_norm = vectors.select(
        F.col(id_col),
        F.col("vec"),
        F.expr("sqrt(aggregate(vec, 0.0D, (acc, v) -> acc + v * v))").alias(
            "__vnorm"
        ),
    )
    return with_norm.select(
        F.col(id_col), F.explode(ranked).alias("__cell"), "vec"
    ).select(id_col, F.col("__cell.centroid_id").alias("centroid_id"), "vec")


def assign_ivf_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (max cosine, centroid-id tie-break). Centroids are model-sized: collected
    once and folded into a narrow argmax projection (no crossJoin, no window
    exchange — see :func:`_nearest_cells`)."""
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec"))
    return _nearest_cells(v, _collect_centroids(centroids, vec_col), 1, id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the query's own IVF cell.

    The corpus↔query match becomes an equi-join on ``centroid_id`` — at scale
    this is the difference between scanning 100 TB per query batch and
    scanning one cell. Recall loss is the standard IVF nprobe=1 trade; raise
    recall by unioning more probe cells.
    """
    cent_rows = _collect_centroids(centroids, vec_col)
    c_assigned = _nearest_cells(
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec")),
        cent_rows,
        1,
        id_col,
    )
    q_assigned = _nearest_cells(
        queries.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec")),
        cent_rows,
        1,
        id_col,
    )
    scored = (
        c_assigned.alias("c")
        .join(
            broadcast(q_assigned.alias("q")),
            on=[
                F.col("c.centroid_id") == F.col("q.centroid_id"),
                F.col(f"c.{id_col}") != F.col(f"q.{id_col}"),
            ],
        )
        .select(
            F.col(f"q.{id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            F.round(cosine(F.col("q.vec"), F.col("c.vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim")
    )


#: Auto-sizing target: with bucket_bits = ceil(log2(n / target)) each LSH
#: table has ~2^bits buckets of ~target rows, keeping the per-bucket dense
#: verify O(target²) and the whole op ~linear in n. 800 reproduces the
#: measured sf10 mitigation cell (200k vectors → 8 bits, SCALE_LADDER.json
#: t50_b8: p = 0.69 vs p ≈ 1.2 at fixed 4 bits).
DEFAULT_TARGET_BUCKET_ROWS = 800


def auto_bucket_bits(
    n_rows: int,
    target_bucket_rows: int = DEFAULT_TARGET_BUCKET_ROWS,
    min_bits: int = 2,
    max_bits: int = 24,
) -> int:
    """Size LSH ``bucket_bits`` from the corpus row count: the documented
    growth rule ``bucket_bits ≈ log2(n / target_bucket_rows)`` (see
    :func:`near_dup_by_cosine`), clamped to [min_bits, max_bits]. At fixed
    bits, per-table bucket size grows as n/2^bits and the dense per-bucket
    verification turns super-linear — the scale ladder measured p ≈ 1.2 at
    fixed 4 bits vs p = 0.69 with log-n-grown 8 bits at the 200k-vector
    rung. Deterministic, pure, and cheap: callers pass a plain count."""
    import math

    if n_rows <= max(1, target_bucket_rows):
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(n_rows / target_bucket_rows))))


def sign_agreement_prob(threshold: float) -> float:
    """Cosine similarity → probability two vectors at that angle agree on one
    sign-random-projection bit: p = 1 − θ/π (Goemans–Williamson)."""
    import math

    return 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi


def auto_lsh_shape(
    bucket_bits: int,
    threshold: float,
    base_bits: int = 2,
    base_tables: int = 8,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Jointly size (bucket_bits, n_tables) so the auto-scaled shape holds
    the RECALL the floor config (``base_bits`` × ``base_tables``) delivers at
    the caller's threshold.

    AND-amplification (more bits) cuts candidates but lowers per-table detect
    probability p^bits; without compensating OR-amplification (more tables),
    auto-grown bits silently push borderline-pair recall below the floor
    config's — exactly the failure the round-7 advice flagged for
    low-threshold callers at scales where the O(n²) recall harness cannot
    run. Given detect probability 1 − (1 − p^bits)^tables, this solves for
    the table count that reproduces the floor config's miss rate
    ((1 − p^base_bits)^base_tables), and when that count would exceed
    ``max_tables``, BACKS OFF bits instead of undershooting recall — the
    floor shape is always feasible, so recall is never silently traded. At
    ``bucket_bits == base_bits`` the result is exactly the historical
    (base_bits, base_tables): small-corpus outputs are byte-identical.

    The degenerate regime is priced, not hidden: at low thresholds
    (p ≲ 0.67) holding recall costs bits — e.g. threshold 0.35 at 10 auto
    bits resolves to ~(5, 42), whose verify volume n²·tables/2^bits is
    actually BELOW the floor config's — while at high thresholds bits keep
    their full candidate-cut power with a modest table growth."""
    import math

    if bucket_bits <= base_bits:
        return bucket_bits, base_tables
    p = sign_agreement_prob(threshold)
    base_miss = 1.0 - p**base_bits
    if base_miss <= 0.0:  # p == 1: any single table catches the pair
        return bucket_bits, base_tables
    log_target_miss = base_tables * math.log(base_miss)

    def tables_for(bits: int) -> int:
        miss1 = 1.0 - p**bits
        if miss1 <= 0.0:
            return base_tables
        # 1e-9 guard: at bits == base_bits this is exactly base_tables and
        # float noise must not ceil it to base_tables + 1
        return math.ceil(log_target_miss / math.log(miss1) - 1e-9)

    bits = bucket_bits
    while bits > base_bits and tables_for(bits) > max_tables:
        bits -= 1
    return bits, min(max_tables, max(base_tables, tables_for(bits)))


def near_dup_by_cosine(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_bits: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table random-hyperplane
    LSH (Charikar, STOC'02 sign-random-projection sketches).

    ``n_tables`` independent hash tables, each bucketing the corpus by the
    sign bits of ``bucket_bits`` pseudo-random Rademacher hyperplanes
    (component signs drawn deterministically from ``xxhash64(table, bit,
    dim_index)`` — seedless and reproducible across runs). Candidates are
    pairs colliding in ≥1 table; survivors are exact-cosine verified against
    ``threshold``, so precision is always 1.0 and only recall is
    probabilistic: a pair at angle θ agrees on one sign bit with p = 1 − θ/π,
    so its detect probability is 1 − (1 − p^bits)^tables. AND-amplification
    (``bucket_bits``) cuts candidates ~2^bits× per table; OR-amplification
    (``n_tables``) restores recall — tune both to the target threshold. The
    defaults (2 bits × 8 tables) give expected recall ≈ 0.97 at cosine 0.35
    (p ≈ 0.61); for classic ≥0.8 near-dup gating raise ``bucket_bits`` to
    8–16 for a deep candidate cut at the same recall.

    ``bucket_bits`` must GROW with log(corpus) to stay linear: at fixed bits
    the per-table bucket count is constant, so bucket size — and per-bucket
    verification — grows with n²/2^bits. Measured on the scale ladder
    (SCALE_LADDER.json, sf3→sf10 = 150k→500k docs' worth of vectors):
    4 bits × 12 tables at cosine 0.5 scales at p ≈ 1.2, while 8 bits × 12
    tables restores p = 0.69 and runs 3.9× faster at the top rung with
    banding recall ≈ 0.999 for genuine near-dups. The rule
    ``bucket_bits ≈ log2(n / target_bucket_rows)`` is therefore the DEFAULT:
    ``bucket_bits=None`` computes it via :func:`auto_bucket_bits` from one
    cheap ``corpus.count()`` (one extra metadata-light action; pass an
    explicit int to skip it or to pin a shape for measurement). The floor of
    2 bits reproduces the historical small-corpus default, so driver-scale
    results are unchanged. When BOTH knobs are auto (``n_tables=None``),
    auto-sized bits also auto-grow the table count via
    :func:`auto_lsh_shape`, holding the floor config's recall at the
    caller's threshold instead of silently trading it for the candidate cut
    (detect probability is 1 − (1 − p^bits)^tables); an explicit
    ``n_tables`` pins the historical behavior (8 when only bits are
    explicit).

    Honest scaling boundary: the candidate-pruning power is the gap between
    the wanted pairs' bit-agreement p and the background's (~0.5 for nearly
    orthogonal vectors). At cosine ≥ 0.8 (p ≥ 0.8, 8 bits × 14 tables)
    background collisions are ~5% of pairs — a real 20× scan cut. At cosine
    0.35 the gap (0.61 vs 0.5) is too small for ANY (bits, tables) to prune
    without killing recall — candidate volume approaches all-pairs and the
    op degenerates to a verified brute force. That is a property of
    sign-random-projection LSH, not of this implementation; for
    low-threshold mining at scale use :func:`blocked_near_dup_numpy` over a
    coarse partition (IVF cells, labels) instead.

    Execution shape: one vectorized pass computes every table's bucket (a
    single numpy matmul per Arrow batch against a deterministic
    splitmix64-derived Rademacher matrix), rows fan out to (table, bucket)
    keys carrying their vector, ONE shuffle groups each bucket, and each
    bucket verifies its own pairs locally with a dense matmul (the
    blocked-numpy kernel). Only SURVIVING pairs (actual near-dups) leave the
    bucket, so the global dedupe handles the true-positive set ×tables —
    never the full candidate volume. No cross join; no global candidate
    materialization; a hot bucket is the skew unit (sub-block or cap it at
    extreme skew, same discipline as MinHash banding).
    """
    v = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec"))
    if bucket_bits is None:
        bucket_bits = auto_bucket_bits(v.count())
        if n_tables is None:
            # auto bits must auto-grow tables (and back bits off when tables
            # would explode) to hold the floor config's recall — see
            # auto_lsh_shape
            bucket_bits, n_tables = auto_lsh_shape(bucket_bits, threshold)
    if n_tables is None:
        n_tables = 8
    bucketed = _lsh_buckets_numpy(v, id_col, bucket_bits, n_tables)
    per_bucket = bucketed.groupBy("tbl", "bucket").applyInPandas(
        _block_pairs_fn(threshold, id_col, "vec"),
        "vec_a long, vec_b long, cosine_sim double",
    )
    # A pair colliding in k tables survives k buckets → one row after dedupe.
    # vec_a < vec_b is guaranteed by the per-bucket kernel, so the same pair
    # from different tables collapses to one row here.
    return per_bucket.dropDuplicates(["vec_a", "vec_b"])


def _block_pairs_fn(threshold: float, id_col: str, vec_col: str):
    """Factory for the per-block pair-verification kernel shared by
    :func:`near_dup_by_cosine` (per (tbl, bucket) group) and
    :func:`blocked_near_dup_numpy` (per label block): returns an
    ``applyInPandas`` function that, given one group of (id, vec) rows, emits
    every pair with rounded cosine ≥ ``threshold`` as (vec_a, vec_b,
    cosine_sim) with ``vec_a < vec_b``. Ids are sorted before the
    upper-triangular sweep, so the ordering invariant holds and cross-table
    duplicates of a pair are byte-identical rows.

    The sweep is CHUNKED: similarity rows are computed ≤64 MB at a time
    (chunk_rows × n float64), never the full n×n matrix. A dense n² buffer is
    fine at a few hundred rows per block but is the memory cliff at scale —
    a 12.5k-row bucket (sf10 ladder rung, 200k vectors / 16 buckets) would
    need ~3.5 GB per task for sims + triu indices, and 32 concurrent Python
    workers would OOM the host long before the executors blink. Per-pair
    arithmetic (dot, then divide by the norm product, then round to 6) is
    identical to the unchunked form, so results are bit-for-bit unchanged."""
    import numpy as np
    import pandas as pd

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cols = ["vec_a", "vec_b", "cosine_sim"]
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(columns=cols)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        norms = np.linalg.norm(mat, axis=1)
        n = len(ids)
        # No lower floor beyond 1: a floor of e.g. 256 rows would void the
        # ≤64 MB bound for groups past 32,768 rows (256·n·8 bytes grows
        # linearly with group size); at worst chunk=1 is a matvec per row.
        chunk = max(1, min(4096, (64 << 20) // (8 * n)))
        col_idx = np.arange(n)
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for s in range(0, n - 1, chunk):
            e = min(s + chunk, n)
            sims = np.round(
                (mat[s:e] @ mat.T) / np.outer(norms[s:e], norms), 6
            )
            keep = (sims >= threshold) & (
                col_idx[None, :] > np.arange(s, e)[:, None]
            )
            ai, aj = np.nonzero(keep)
            out_a.append(ids[ai + s])
            out_b.append(ids[aj])
            out_s.append(sims[ai, aj])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return block_pairs


def _lsh_buckets_numpy(
    v: DataFrame, id_col: str, bucket_bits: int, n_tables: int
) -> DataFrame:
    """(id, vec) → (id, tbl, bucket, vec) sign-projection rows, one numpy
    matmul per Arrow batch. The vector rides along (×n_tables fan-out) so each
    (tbl, bucket) group can verify its candidate pairs locally without a
    second join back to the corpus — one shuffle total. The hyperplane matrix
    is Rademacher ±1 derived from splitmix64 over the flat (table, bit, dim)
    counter — fully deterministic with no RNG state, so every executor
    materializes the identical planes."""
    import numpy as np
    import pandas as pd

    def planes_for(dim: int) -> "np.ndarray":
        x = np.arange(n_tables * bucket_bits * dim, dtype=np.uint64)
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        signs = np.where((z & np.uint64(1)).astype(bool), 1.0, -1.0)
        return signs.reshape(n_tables * bucket_bits, dim).T  # (dim, T*bits)

    weights = (np.uint64(1) << np.arange(bucket_bits, dtype=np.uint64)).astype(
        np.int64
    )

    def batch(frames):
        planes = None
        for pdf in frames:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["vec"]), dtype=np.float64)
            if planes is None:
                planes = planes_for(mat.shape[1])
            bits = (mat @ planes) >= 0  # (B, T*bits)
            per_table = bits.reshape(len(pdf), n_tables, bucket_bits)
            buckets = per_table @ weights  # (B, T)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vecs = pdf["vec"].to_numpy(dtype=object)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                    "vec": np.repeat(vecs, n_tables),
                }
            )

    return v.mapInPandas(
        batch, f"{id_col} long, tbl int, bucket long, vec array<double>"
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train IVF coarse centroids with distributed Lloyd's iterations.

    Each iteration: broadcast the (tiny) centroid set, assign every corpus
    vector to its nearest cell (one narrow pass), recompute each centroid as
    the element-wise mean via posexplode → groupBy(cell, pos) — the mean
    never materializes vectors on the driver except the n_cells × dim model
    itself, which IS driver-sized state by definition. Deterministic
    seeding (lowest ids) and tie-breaks make the model reproducible.
    A cell that loses all members drops out (standard k-means shrinkage).
    """
    rows = train_ivf_centroid_rows(corpus, n_cells, iters, id_col, vec_col)
    # LocalRelation, not a Python-RDD: the plain createDataFrame(list)
    # path made every later stage scanning the centroids launch 32
    # near-empty Python-worker tasks (~0.25 s each, ~zero CPU — the
    # dominant cost of this loop at bench scale, r14 measurement).
    return local_frame(
        corpus.sparkSession, rows, f"centroid_id long, {vec_col} array<double>"
    )


def train_ivf_centroid_rows(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Driver-rows form of :func:`train_ivf_centroids` (r14): the model is
    driver-sized state either way, and the in-loop consumers
    (:func:`_nearest_cells`) want the literal rows — round-tripping through a
    DataFrame per iteration bought nothing. Each Lloyd iteration is now ONE
    job: narrow nearest-cell projection (no crossJoin/window exchange — guide
    §2.4) → posexplode → two map-side-combined groupBys → a model-sized
    collect. The mean recompute keeps the exact F.avg aggregation plan, so
    centroid values are unchanged (within the run-to-run float-merge envelope
    the 6-dp sim round already absorbs)."""
    rows = [
        (r[id_col], [float(x) for x in r[vec_col]])
        for r in corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    ]
    v = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec"))
    for _ in range(iters):
        assigned = _nearest_cells(v, rows, 1, id_col)
        new = (
            assigned.select("centroid_id", F.posexplode("vec").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s.v
                ).alias(vec_col)
            )
        )
        rows = sorted(
            (r["centroid_id"], [float(x) for x in r[vec_col]]) for r in new.collect()
        )
    return rows


def ivf_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end trained IVF: k-means centroids → corpus assigned nprobe=1 →
    queries probe their ``n_probe`` nearest cells → exact cosine within the
    probed cells only. The scan-reduction ANN path with a learned index."""
    cent_rows = train_ivf_centroid_rows(corpus, n_cells, iters, id_col, vec_col)
    c_assigned = _nearest_cells(
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec")),
        cent_rows,
        1,
        id_col,
    )
    q_assigned = _nearest_cells(
        queries.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec")),
        cent_rows,
        n_probe,
        id_col,
    )
    scored = (
        c_assigned.alias("c")
        .join(
            broadcast(q_assigned.alias("q")),
            on=[
                F.col("c.centroid_id") == F.col("q.centroid_id"),
                F.col(f"c.{id_col}") != F.col(f"q.{id_col}"),
            ],
        )
        .select(
            F.col(f"q.{id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            F.round(cosine(F.col("q.vec"), F.col("c.vec")), 6).alias("cosine_sim"),
        )
        # No dropDuplicates: it was a per-(query, neighbor) dedup exchange,
        # but duplicates are structurally impossible — every corpus vector is
        # assigned to exactly ONE cell (nprobe=1), so a (query, neighbor)
        # pair joins through at most one shared centroid_id no matter how
        # many cells the query probes (r14; A/B-verified identical rows).
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim")
    )


def all_pairs_cosine(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_chunks: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold — the ground-truth baseline the LSH
    recall harness compares against. Deliberately O(n²) in COMPUTE: run it on
    model-sized corpora (the harness's query/eval sets) or per-block, never
    on the full 100 TB corpus — that is precisely what
    :func:`near_dup_by_cosine` exists to avoid.

    Execution shape (r14 optimization): triangular block decomposition.
    The old single-block delegation ran the whole n² sweep as ONE
    applyInPandas task (measured: the entire wall of the recall harness was
    one serialized Python stage). Vectors are chunked by ``pmod(id, C)``;
    each row fans out to every block-pair group its chunk participates in
    (C copies/row of a model-sized table), and group (ca, cb) computes only
    cross-chunk (or, on the diagonal, within-chunk triangular) pairs — each
    unordered pair lands in exactly one group, C(C+1)/2 independent tasks,
    and the per-pair dot/norm/round arithmetic is the shared kernel's,
    bit-for-bit (tests pin the exact output). ``n_chunks=None`` derives
    C ≈ sqrt(2·defaultParallelism) so the block count tracks the cluster;
    1 reproduces the single-block shape.
    """
    if n_chunks is None:
        import math

        n_chunks = max(
            1, math.isqrt(2 * corpus.sparkSession.sparkContext.defaultParallelism)
        )
    if n_chunks <= 1:
        return blocked_near_dup_numpy(
            corpus.withColumn("__all", F.lit(0)),
            block_col="__all",
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
        )
    v = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.pmod(F.col(id_col), F.lit(n_chunks)).cast("int").alias("__c"),
    )
    exploded = v.withColumn(
        "__o", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1)))
    ).select(
        id_col,
        vec_col,
        "__c",
        F.least("__c", "__o").alias("__ca"),
        F.greatest("__c", "__o").alias("__cb"),
    )
    return exploded.groupBy("__ca", "__cb").applyInPandas(
        _cross_block_pairs_fn(threshold, id_col, vec_col),
        "vec_a long, vec_b long, cosine_sim double",
    )


def _cross_block_pairs_fn(threshold: float, id_col: str, vec_col: str):
    """Per-(ca, cb) kernel for the triangular decomposition: diagonal groups
    reuse the shared within-block kernel; off-diagonal groups compute the
    A×B cross product only (within-A / within-B pairs belong to their own
    diagonal groups), chunked to the same ≤64 MB similarity-buffer bound.
    The arithmetic (contiguous float64 dot, norm product, round to 6) is
    identical to :func:`_block_pairs_fn`, so a pair's cosine is bit-equal
    regardless of which decomposition computed it."""
    import numpy as np
    import pandas as pd

    within = _block_pairs_fn(threshold, id_col, vec_col)

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cols = ["vec_a", "vec_b", "cosine_sim"]
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        ca, cb = int(pdf["__ca"].iloc[0]), int(pdf["__cb"].iloc[0])
        if ca == cb:
            return within(pdf)
        a_pdf = pdf[pdf["__c"] == ca]
        b_pdf = pdf[pdf["__c"] == cb]
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame(columns=cols)
        a_ids = a_pdf[id_col].to_numpy(dtype=np.int64)
        b_ids = b_pdf[id_col].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a_pdf[vec_col]), dtype=np.float64)
        b_mat = np.array(list(b_pdf[vec_col]), dtype=np.float64)
        a_norms = np.linalg.norm(a_mat, axis=1)
        b_norms = np.linalg.norm(b_mat, axis=1)
        nb = len(b_ids)
        chunk = max(1, min(4096, (64 << 20) // (8 * nb)))
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for s in range(0, len(a_ids), chunk):
            e = min(s + chunk, len(a_ids))
            sims = np.round(
                (a_mat[s:e] @ b_mat.T) / np.outer(a_norms[s:e], b_norms), 6
            )
            ai, bj = np.nonzero(sims >= threshold)
            ia, ib = a_ids[ai + s], b_ids[bj]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
            out_s.append(sims[ai, bj])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a) if out_a else np.array([], np.int64),
                "vec_b": np.concatenate(out_b) if out_b else np.array([], np.int64),
                "cosine_sim": (
                    np.concatenate(out_s) if out_s else np.array([], np.float64)
                ),
            }
        )

    return block_pairs


def blocked_near_dup_numpy(
    corpus: DataFrame,
    block_col: str = "label",
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Blocked-exact near-dup pairs via chunked dense matmuls per block
    (applyInPandas). Within each block: cosine rows in BLAS calls bounded to
    ~64 MB each (see :func:`_block_pairs_fn`, the shared kernel) instead of
    one higher-order-function fold per pair — measured ~6× faster than the
    JVM fold at 200-vector blocks, with bit-identical rounded values. One
    shuffle (groupBy block); block size is the quadratic COMPUTE knob, while
    the chunked sweep keeps per-task memory flat no matter how big a block
    gets."""
    return corpus.groupBy(block_col).applyInPandas(
        _block_pairs_fn(threshold, id_col, vec_col),
        "vec_a long, vec_b long, cosine_sim double",
    )
