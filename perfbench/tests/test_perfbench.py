"""The benchmark's own tests: seeded generators are deterministic, tail
percentiles follow the sample-count rule, and each workload's operation
round-trips against its DuckDB oracle on a tiny seed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, oracle, stats  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> None:
    gen.write_events(os.path.join(root, "events"), seed, 500, 20)
    gen.write_corpus(os.path.join(root, "corpus"), seed, 80, 40)
    gen.write_ingest(os.path.join(root, "ingest"), seed, n_requests=3, ledger_keys=500)


def test_generators_are_deterministic(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert set(a) == set(c)
    assert all(a[k] != c[k] for k in a)


def test_every_block_carries_the_same_heavy_tailed_sizes():
    import numpy as np

    sizes = gen.request_sizes(np.random.default_rng(1), 8)
    assert sorted(sizes[:4]) == sorted(sizes[4:]) == sorted(gen.BLOCK_SIZES)
    assert sizes[:4] != sizes[4:] or sizes != gen.request_sizes(np.random.default_rng(2), 8)
    assert min(gen.BLOCK_SIZES) < 100 < 300 < 1000 < max(gen.BLOCK_SIZES)


def test_planted_vector_clusters_span_the_stated_diameters():
    import numpy as np

    emb = gen.embeddings_table(np.random.default_rng(5), 300).to_pydict()
    vecs, labels = np.array(emb["embedding"]), np.array(emb["label"])
    near = (vecs @ vecs.T >= 0.35) & (labels[:, None] == labels[None, :])
    np.fill_diagonal(near, False)
    diameter: dict[int, int] = {}  # component (its smallest id) -> diameter
    for start in range(len(vecs)):
        dist, frontier = {start: 0}, [start]
        while frontier:
            nxt = []
            for i in frontier:
                for j in np.flatnonzero(near[i]).tolist():
                    if j not in dist:
                        dist[j] = dist[i] + 1
                        nxt.append(j)
            frontier = nxt
        comp = min(dist)
        diameter[comp] = max(diameter.get(comp, 0), max(dist.values()))
    assert set(diameter.values()) - {0} == {1, *gen.CHAIN_DIAMETERS}


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(99)), 90) is None  # 9 samples above p90
    p90 = stats.tail_percentile(list(range(100)), 90)
    assert p90 == 89
    assert sum(1 for v in range(100) if v > p90) == 10
    assert stats.tail_percentile(list(range(20)), 50) == 9
    assert stats.tail_percentile([], 90) is None


def test_steal_sums_only_the_first_eight_fields(tmp_path):
    stat = tmp_path / "stat"
    # user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 0 50 800 10 0 5 35 1000 1000\ncpu0 1 2 3\n")
    assert stats.cpu_ticks(str(stat)) == (35, 1000)
    assert stats.steal_pct((35, 1000), (45, 1100)) == pytest.approx(10.0)


def test_result_hash_ignores_row_and_column_order():
    h1 = oracle.result_hash(["a", "b"], [(1, 0.1 + 0.2), (2, None)])
    h2 = oracle.result_hash(["b", "a"], [(None, 2), (0.3, 1)])
    assert h1 == h2
    assert oracle.result_hash(["a", "b"], [(1, 0.4)]) != h1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run._prepare_env(work, 2)
    session = run._start_session(work)
    yield session
    session.stop()


def _tiny(cls, root, **sizes):
    wl = cls(str(root), 3, None)
    for k, v in sizes.items():
        setattr(wl, k, v)
    wl.generate()
    wl.prepare_oracle()
    return wl


def test_dashboard_round_matches_oracle(spark, tmp_path):
    from perfbench.workloads import DashboardRead

    wl = _tiny(DashboardRead, tmp_path, N_EVENTS=3000, N_AGENTS=40)
    wl.setup(spark)
    results = [wl.op(spark, i) for i in range(wl.block)]
    assert sorted(r.detail["query"] for r in results) == sorted(wl.QUERIES)
    assert [r.error for r in results if not r.ok] == []


def test_corpus_pass_matches_oracle(spark, tmp_path):
    from perfbench.workloads import CorpusPrep

    wl = _tiny(CorpusPrep, tmp_path, N_DOCS=150, N_VECS=80, WARM_DOCS=20, WARM_VECS=10)
    result = wl.op(spark, 0)
    assert result.ok, result.error
    assert result.items == 150


def test_ingest_request_matches_ledger_gate_oracle(spark, tmp_path):
    from perfbench.workloads import IngestLive

    wl = _tiny(IngestLive, tmp_path, N_REQUESTS=4, LEDGER_KEYS=5000)
    wl.setup(spark)
    try:
        results = [wl.op(spark, i) for i in range(wl.N_REQUESTS)]
    finally:
        wl.close(spark)
    assert [r.error for r in results if not r.ok] == []
    assert wl.accepted  # some keys were new, so the check compared real output
    assert all(r.detail["batches"] >= 1 for r in results)
