"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical files. Nothing here touches Spark; the engine only ever sees
the files written below.

* ``events.parquet``      the ``events`` table schema the registry reads
                          (event_id, ts, user_id, event_type, value, props)
                          with skewed per-agent volume.
* ``requests/req_*.jsonl`` webhook envelope landing files encoded from an
                          ingest events pool through the DuckDB mirror of the
                          events → webhook mapping, with within-request
                          duplicates, cross-request redeliveries, late rows,
                          non-outbound events and malformed lines.
* ``ledger/``             the prior TTL ledger (pk, seenAt, expiresAt,
                          writer_id), about half expired at ``NOW_ANCHOR``.
* ``documents.parquet``   corpus with planted near-duplicate clusters, a
                          language mix and junk that fails the quality gate.
* ``embeddings.parquet``  vectors with planted semantic duplicates.

The traffic and corpus shapes below are assumptions of this benchmark, not
measurements: the reference service publishes no traffic figures. Unverified
are the ingest shares (``REQ_DUP_SHARE``, ``REDELIVER_SHARE``,
``MALFORMED_SHARE``, ``LATE_SHARE`` and its ``LATE_SLOTS`` lag, the
``REDELIVERY_DELAY_MS`` range), the per-agent skew ``AGENT_ZIPF``, the uniform
event-type mix, the request-size distribution behind ``BLOCK_SIZES``, and
the duplicate-cluster shapes: cliques (diameter 1) plus chains of diameter
``CHAIN_DIAMETERS`` in random id order.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["purchase", "signup", "click", "view", "error"])
LANGS = np.array(["en", "de", "zh", "es", "fr"])
LANG_WEIGHTS = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
# Function words per language; the quality gate's stopword ratio counts the
# English ones, so every well-formed document carries some of them.
STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "it")
MARKERS = {
    "de": ("der", "die", "das", "und"),
    "zh": ("de5", "shi4", "bu4", "le5"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "les", "et", "une"),
}
EPOCH = dt.datetime(1970, 1, 1)
# Events span the dashboard's time filters around NOW_ANCHOR (2024-01-20):
# last month, last/this week, yesterday, today and the custom range.
TS_START = dt.datetime(2023, 12, 20)
TS_END = dt.datetime(2024, 1, 31)
NOW_EPOCH = int((dt.datetime(2024, 1, 20, 12, 0, 0) - EPOCH).total_seconds())
TTL_S = 14 * 86400
# Per-agent event volume follows 1 / rank ** AGENT_ZIPF.
AGENT_ZIPF = 0.9
# Shares of a request's envelopes that are within-request duplicates,
# redeliveries of earlier requests' events (REDELIVERY_DELAY_MS after the
# first delivery) and malformed lines; LATE_SHARE of the events arrive
# LATE_SLOTS positions behind their event-time slot.
REQ_DUP_SHARE = 0.05
REDELIVER_SHARE = 0.05
MALFORMED_SHARE = 0.02
LATE_SHARE = 0.1
LATE_SLOTS = (500, 5000)
REDELIVERY_DELAY_MS = (60_000, 3_600_000)
WARM_ENVELOPES = 100
# Corpus shapes: shares of documents in near-duplicate cliques and in junk,
# of vectors in duplicate cliques, and of both in chained near-duplicate
# clusters, whose diameters cycle through CHAIN_DIAMETERS. Chains are what
# make connected components run more than its minimum number of rounds:
# with a chain's ids in random order, the number of label-propagation
# rounds grows with the diameter, and a table holds enough chains of the
# longest diameter that nearly every seed reaches its worst case. On the
# benchmark's 2000 documents and 800 vectors, a Python model of the loop
# gives 5 rounds per table on seeds 1-8, where cliques alone need 2; a
# traced pass agrees (11 pins and 79 CC jobs, against 5 and 35).
CLUSTER_SHARE = 0.3
JUNK_SHARE = 0.1
VEC_DUP_SHARE = 0.3
CHAIN_SHARE = 0.25
CHAIN_DIAMETERS = (2, 3, 4)
EMBED_DIM = 64
EMBED_LABELS = 50
LEDGER_SCHEMA = pa.schema(
    [
        ("pk", pa.string()),
        ("seenAt", pa.timestamp("us", tz="UTC")),
        ("expiresAt", pa.int64()),
        ("writer_id", pa.string()),
    ]
)


def _us(t: dt.datetime) -> int:
    return int((t - EPOCH).total_seconds() * 1_000_000)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def events_table(rng: np.random.Generator, n: int, n_agents: int, first_id: int = 0) -> pa.Table:
    """``n`` events in the testdata schema, ids ``first_id..``, in time order.
    Agent volume is Zipf-like: a few agents carry most events."""
    ts = np.sort(rng.integers(_us(TS_START), _us(TS_END), n))
    weights = 1.0 / np.arange(1, n_agents + 1) ** AGENT_ZIPF
    agents = rng.permutation(n_agents)
    user_id = agents[rng.choice(n_agents, n, p=weights / weights.sum())]
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(1, 200, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def write_events(root: str, seed: int, n: int, n_agents: int) -> str:
    """The dashboard's events table at ``root/events.parquet``."""
    rng = np.random.default_rng([seed, 1])
    path = os.path.join(root, "events.parquet")
    _write(events_table(rng, n, n_agents), path)
    return path


# --------------------------------------------------------------------------- #
# ingest_live
# --------------------------------------------------------------------------- #


def _webhook_rows(events_path: str) -> list[tuple]:
    """Webhook shape of every event through the oracle's own SQL mapping
    (``webhook_mapping.WEBHOOKS_CTE``), as (EventID, source, body JSON,
    receivedAt epoch ms), in event-id order."""
    import duckdb

    from quill_agent_dashboard_pbi_etl_spark.sources.webhook_mapping import WEBHOOKS_CTE

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        rows = con.sql(
            f"""WITH {WEBHOOKS_CTE}
            SELECT coalesce(ext_id, CAST(substr(uuid_v4, 6) AS BIGINT)) AS eid,
                   source, event_name, ext_id, uuid_v4, direction, type_code,
                   created_at_raw, owner_id, user_id, tz, epoch_ms(receivedAt)
            FROM webhooks ORDER BY eid"""
        ).fetchall()
    finally:
        con.close()
    out = []
    for _eid, source, name, ext_id, uuid, direction, type_code, created, owner, user, tz, recv in rows:
        inner = {
            "id": ext_id,
            "uuid_v4": uuid,
            "direction": direction,
            "type": type_code,
            "created_at": created,
            "owner_id": owner,
            "user_id": user,
            "contact": {"timezone": tz} if tz is not None else {},
        }
        body = {"event": name, "body": {k: v for k, v in inner.items() if v is not None}}
        key = f"{source}:{ext_id if ext_id is not None else uuid}"
        out.append((key, source, json.dumps(body, separators=(",", ":")), recv))
    return out


def _iso_ms(epoch_ms: int) -> str:
    t = EPOCH + dt.timedelta(milliseconds=epoch_ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


# Request sizes in envelopes: the 5th, 35th, 65th and 95th percentiles of a
# log-normal with median 300 (sigma 1.1). Every block of four requests holds
# each size once, in seeded order, so runs of any seed carry the same
# heavy-tailed size mix and differ in order and content only.
BLOCK_SIZES = tuple(
    int(round(300 * math.exp(1.1 * NormalDist().inv_cdf(q)))) for q in (0.05, 0.35, 0.65, 0.95)
)


def request_sizes(rng: np.random.Generator, n_requests: int) -> list[int]:
    sizes: list[int] = []
    while len(sizes) < n_requests:
        sizes.extend(int(v) for v in rng.permutation(BLOCK_SIZES))
    return sizes[:n_requests]


def write_ingest(root: str, seed: int, n_requests: int, ledger_keys: int) -> dict:
    """Landing files for ``n_requests`` measured requests plus one small
    warm-up request over disjoint event ids, the events pool the measured
    requests encode (for the oracle) and the prior ledger."""
    rng = np.random.default_rng([seed, 2])
    sizes = request_sizes(rng, n_requests)
    # Fresh events needed: sizes minus the redelivered/duplicated share.
    pool_n = int(sum(sizes) * (1 - REQ_DUP_SHARE)) + 1000
    pool_path = os.path.join(root, "ingest_events.parquet")
    _write(events_table(rng, pool_n, 400, first_id=0), pool_path)
    warm_path = os.path.join(root, "warm_events.parquet")
    _write(events_table(rng, WARM_ENVELOPES, 50, first_id=50_000_000), warm_path)

    req_dir = os.path.join(root, "requests")
    os.makedirs(req_dir, exist_ok=True)
    files = []
    webhooks = _webhook_rows(pool_path)
    # Delivery order: event-time order, except for the late events.
    slot = np.arange(len(webhooks), dtype=np.float64)
    late = rng.uniform(0, 1, len(slot)) < LATE_SHARE
    slot[late] += rng.uniform(*LATE_SLOTS, int(late.sum()))
    delivery = np.argsort(slot, kind="stable").tolist()
    nxt = 0
    sent: list[int] = []  # indexes into webhooks already delivered
    for i, size in enumerate(sizes):
        lines: list[str] = []
        n_dup = int(round(size * REQ_DUP_SHARE))
        n_redeliver = min(len(sent), int(round(size * REDELIVER_SHARE)))
        n_bad = int(round(size * MALFORMED_SHARE))
        n_fresh = max(1, size - n_dup - n_redeliver - n_bad)
        fresh = delivery[nxt:nxt + n_fresh]
        nxt += len(fresh)
        picks = [(idx, 0) for idx in fresh]
        if sent:
            picks += [(int(j), int(rng.integers(*REDELIVERY_DELAY_MS)))
                      for j in rng.choice(sent, n_redeliver, replace=False)]
        dups = [picks[int(j)] for j in rng.integers(0, len(picks), n_dup)]
        picks += dups
        order = rng.permutation(len(picks))
        for j in order:
            idx, delay_ms = picks[int(j)]
            _eid, source, body, recv = webhooks[idx]
            lines.append(json.dumps(
                {"source": source, "body": body, "receivedAt": _iso_ms(recv + delay_ms)},
                separators=(",", ":"),
            ))
        for _ in range(n_bad):
            pos = int(rng.integers(0, len(lines) + 1))
            bad = ('{"source":"ALOWARE","body":"{\\"event\\":\\"outbound_call\\",\\"body\\":{\\"id\\":'
                   if rng.uniform() < 0.5 else '{"source":"ALOWARE","body":')
            lines.insert(pos, bad)
        sent.extend(fresh)
        path = os.path.join(req_dir, f"req_{i:05d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append({"path": path, "lines": len(lines), "events": [webhooks[k][0] for k, _ in picks]})

    warm_hooks = _webhook_rows(warm_path)
    warm_file = os.path.join(req_dir, "warm.jsonl")
    with open(warm_file, "w") as fh:
        for _eid, source, body, recv in warm_hooks:
            fh.write(json.dumps({"source": source, "body": body, "receivedAt": _iso_ms(recv)},
                                separators=(",", ":")) + "\n")

    ledger_path = os.path.join(root, "ledger", "part-00000-seed.parquet")
    _write(_ledger_table(rng, [w[0] for w in webhooks], ledger_keys), ledger_path)
    return {
        "requests": files,
        "warm": {"path": warm_file, "lines": len(warm_hooks)},
        "pool": pool_path,
        "ledger": os.path.dirname(ledger_path),
    }


def _ledger_table(rng: np.random.Generator, pool_keys: list[str], n_keys: int) -> pa.Table:
    """Prior-run ledger: a fifth of the pool's EventIDs (so some requests hit
    live or expired claims) plus filler keys up to ``n_keys``; expiry
    times straddle ``NOW_EPOCH`` so about half the keys are expired."""
    import pyarrow.compute as pc

    seen = [k for k, hit in zip(pool_keys, rng.uniform(0, 1, len(pool_keys)) < 0.2) if hit]
    filler = pa.array(np.arange(1_000_000_000, 1_000_000_000 + max(0, n_keys - len(seen)))).cast(pa.string())
    ids = pa.concat_arrays([pa.array(seen, pa.string()), pc.binary_join_element_wise("ALOWARE:", filler, "")])
    expires = NOW_EPOCH + rng.integers(-TTL_S, TTL_S, len(ids))
    seen_at = (expires - TTL_S) * 1_000_000
    return pa.table(
        {
            "pk": ids,
            "seenAt": pa.array(seen_at, pa.timestamp("us", tz="UTC")),
            "expiresAt": pa.array(expires, pa.int64()),
            "writer_id": pa.array(np.full(len(ids), "seed")),
        },
        schema=LEDGER_SCHEMA,
    )


# --------------------------------------------------------------------------- #
# corpus_prep
# --------------------------------------------------------------------------- #


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    words = set()
    while len(words) < n:
        syl = int(rng.integers(2, 4))
        words.add("".join(rng.choice(cons) + rng.choice(vow) for _ in range(syl)))
    return np.array(sorted(words))


def _doc_tokens(rng: np.random.Generator, vocab: np.ndarray, lang: str, n_tok: int) -> list[str]:
    toks = vocab[rng.integers(0, len(vocab), n_tok)].tolist()
    fw = STOPWORDS_EN + MARKERS.get(lang, ())
    for pos in rng.choice(n_tok, max(1, n_tok // 6), replace=False):
        toks[int(pos)] = fw[int(rng.integers(0, len(fw)))]
    return toks


def _chain_diameters(n_members: int) -> list[int]:
    """Diameters of the chains that hold about ``n_members`` members,
    cycling through ``CHAIN_DIAMETERS``."""
    out: list[int] = []
    while sum(d + 1 for d in out) < n_members:
        out.append(CHAIN_DIAMETERS[len(out) % len(CHAIN_DIAMETERS)])
    return out


def _replace_tokens(rng: np.random.Generator, vocab: np.ndarray, toks: list[str], every: int) -> list[str]:
    """A copy of ``toks`` with one token in ``every`` replaced at random."""
    toks = list(toks)
    for pos in rng.choice(len(toks), max(1, len(toks) // every), replace=False):
        toks[int(pos)] = str(vocab[int(rng.integers(0, len(vocab)))])
    return toks


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Documents: ``CHAIN_SHARE`` of them form chained near-duplicate
    clusters (each member a copy of the previous one with one token in 12
    replaced, so neighbours clear the 3-gram Jaccard threshold of 0.5 and
    members two steps apart do not), ``CLUSTER_SHARE`` sit in planted
    near-duplicate cliques of 2-5 (each member a copy of its clique's base
    with one token in 25 replaced, so every member pair clears the
    threshold), ``JUNK_SHARE`` are junk that fails the quality gate (too
    short, punctuation-heavy or no stopwords), the rest are distinct."""
    vocab = _vocab(rng, 4000)
    texts, langs = [], []
    for d in _chain_diameters(int(n_docs * CHAIN_SHARE)):
        lang = str(LANGS[rng.choice(5, p=LANG_WEIGHTS)])
        toks = _doc_tokens(rng, vocab, lang, int(rng.integers(60, 120)))
        for _ in range(d + 1):
            texts.append(" ".join(toks))
            langs.append(lang)
            toks = _replace_tokens(rng, vocab, toks, 12)
    while len(texts) < n_docs:
        lang = str(LANGS[rng.choice(5, p=LANG_WEIGHTS)])
        r = rng.uniform()
        if r < JUNK_SHARE:
            kind = int(rng.integers(0, 3))
            if kind == 0:
                toks = vocab[rng.integers(0, len(vocab), int(rng.integers(3, 15)))].tolist()
            elif kind == 1:
                toks = [w + "!?;" for w in _doc_tokens(rng, vocab, lang, int(rng.integers(30, 80)))]
            else:
                toks = vocab[rng.integers(0, len(vocab), int(rng.integers(30, 80)))].tolist()
            texts.append(" ".join(toks))
            langs.append(lang)
        elif r < JUNK_SHARE + CLUSTER_SHARE:
            base = _doc_tokens(rng, vocab, lang, int(rng.integers(40, 120)))
            for _ in range(int(rng.integers(2, 6))):
                texts.append(" ".join(_replace_tokens(rng, vocab, base, 25)))
                langs.append(lang)
        else:
            texts.append(" ".join(_doc_tokens(rng, vocab, lang, int(rng.integers(30, 150)))))
            langs.append(lang)
    texts, langs = texts[:n_docs], langs[:n_docs]
    order = rng.permutation(n_docs)  # clusters must not be contiguous ids
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{int(v)}" for v in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in ``EMBED_LABELS`` blocks, each block drawing from its
    own orthonormal basis, so independent vectors never clear the 0.35
    cosine threshold. ``CHAIN_SHARE`` of them form chains: member ``k`` is
    the normalised sum of basis vectors ``k`` and ``k + 1``, so neighbours
    have cosine 0.5 and all other member pairs 0. Of the rest, about
    ``VEC_DUP_SHARE`` are noisy copies (cosine ~0.9) of a base vector, in
    groups of 2-4. The duplicate groups, hence the connected-components
    work, are exactly the planted ones."""
    bases = [np.linalg.qr(rng.normal(size=(EMBED_DIM, EMBED_DIM)))[0].T for _ in range(EMBED_LABELS)]
    used = [0] * EMBED_LABELS
    vecs, labels = [], []

    def take(k: int) -> tuple[int, np.ndarray]:
        """``k`` unused basis vectors of one block with room for them."""
        while True:
            label = int(rng.integers(0, EMBED_LABELS))
            if used[label] + k <= EMBED_DIM:
                used[label] += k
                return label, bases[label][used[label] - k:used[label]]

    for d in _chain_diameters(int(n * CHAIN_SHARE)):
        label, basis = take(d + 2)
        for k in range(d + 1):
            v = basis[k] + basis[k + 1]
            vecs.append(v / np.linalg.norm(v))
            labels.append(label)
    while len(vecs) < n:
        label, (base,) = take(1)
        copies = int(rng.integers(2, 5)) if rng.uniform() < VEC_DUP_SHARE / 3 else 1
        for c in range(copies):
            v = base if c == 0 else base + rng.normal(scale=0.04, size=EMBED_DIM)
            vecs.append(v / np.linalg.norm(v))
            labels.append(label)
    order = rng.permutation(n)
    mat = np.array([vecs[i] for i in order], dtype=np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            "label": pa.array([labels[i] for i in order], pa.int32()),
        }
    )


def write_corpus(root: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng([seed, 3])
    _write(documents_table(rng, n_docs), os.path.join(root, "documents.parquet"))
    _write(embeddings_table(rng, n_vecs), os.path.join(root, "embeddings.parquet"))
