"""The r16 size-adaptive ANN query paths: the local-top-k kernel form
(above SPARK_GRAFT_ANN_KERNEL_MIN_BYTES) and the join form (below it)
must produce IDENTICAL rows for every operator that branches — the
fixtures are small, so without forcing the threshold the kernel side
would never run under pytest."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fhc_rco_etl_scalable_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def corpus(spark):
    # deterministic synthetic embeddings: 300 x dim 8, ids 0..299
    rows = []
    for i in range(300):
        vec = [float(((i * 31 + j * 17) % 19) - 9) / 9.0 for j in range(8)]
        rows.append((i, vec, i % 10))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).localCheckpoint(eager=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _both_paths(monkeypatch, fn):
    monkeypatch.setenv("SPARK_GRAFT_ANN_KERNEL_MIN_BYTES", str(1 << 60))
    join_rows = _rows(fn())
    monkeypatch.setenv("SPARK_GRAFT_ANN_KERNEL_MIN_BYTES", "0")
    kernel_rows = _rows(fn())
    return join_rows, kernel_rows


def test_ivf_indexed_kernel_equals_join(monkeypatch, spark, corpus):
    queries = corpus.filter(F.col("vec_id") < 7)
    a, c = SIM.ivf_index(corpus, n_cells=8)
    a = a.localCheckpoint(eager=True)
    for n_probe in (8, 2):  # probe-all and a genuinely approximate config
        j, k = _both_paths(
            monkeypatch,
            lambda: SIM.ivf_topk_indexed(a, c, queries, k=5, n_probe=n_probe),
        )
        assert j == k and len(j) > 0


def test_pq_kernel_equals_join_vacuous_refine(monkeypatch, spark, corpus):
    queries = corpus.filter(F.col("vec_id") < 7)
    a, c, b = SIM.ivfpq_index(corpus, n_cells=8, m_subvectors=4, n_codes=8)
    a = a.localCheckpoint(eager=True)
    j, k = _both_paths(
        monkeypatch,
        lambda: SIM.ivfpq_topk_indexed(
            a, c, b, queries, k=5, n_probe=8, refine=1_000_000
        ),
    )
    assert j == k and len(j) > 0


def test_pq_kernel_falls_back_when_refine_cuts(monkeypatch, spark, corpus):
    # refine small enough to cut: the kernel path must detect
    # non-vacuity from its candidate counts and route to the reference
    # join path, so forcing the kernel threshold changes NOTHING.
    queries = corpus.filter(F.col("vec_id") < 7)
    a, c, b = SIM.ivfpq_index(corpus, n_cells=8, m_subvectors=4, n_codes=8)
    a = a.localCheckpoint(eager=True)
    j, k = _both_paths(
        monkeypatch,
        lambda: SIM.ivfpq_topk_indexed(a, c, b, queries, k=5, n_probe=8, refine=2),
    )
    assert j == k and len(j) > 0


def test_ivf_oneshot_kernel_equals_brute_probe_all(spark, corpus):
    # one-shot ivf_topk is kernel-always; probe-all must equal brute
    queries = corpus.filter(F.col("vec_id") < 7)
    brute = _rows(SIM.brute_force_topk(corpus, queries, k=5))
    ivf = _rows(SIM.ivf_topk(corpus, queries, k=5, n_cells=8, n_probe=8))
    assert brute == ivf and len(brute) == 35


def test_kernel_handles_empty_queries(spark, corpus):
    a, c = SIM.ivf_index(corpus, n_cells=8)
    out = SIM.ivf_topk_indexed(a, c, corpus.filter("vec_id < 0"), k=5, n_probe=8)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cos_sim", "rank",
    ]


def test_pq_kernel_skips_out_of_range_cell():
    # one assignment row whose cell is past the quantizer (cell ==
    # n_cells): the kernel must neither raise nor return that row
    import pandas as pd

    rng = np.random.default_rng(0)
    dim, n_cells, m, n_codes, nb = 8, 4, 2, 4, 6
    cents = rng.normal(size=(n_cells, dim))
    books = [rng.normal(size=(n_codes, dim // m)) for _ in range(m)]
    q_ids = np.array([100, 101])
    qmat = rng.normal(size=(len(q_ids), dim))
    pdf = pd.DataFrame(
        {
            "__id": np.arange(nb),
            "unit_vec": [list(v) for v in rng.normal(size=(nb, dim))],
            "cell": [0, 1, 2, 3, 0, n_cells],
            "codes": [[0, 1]] * nb,
        }
    )
    kern, _ = SIM._topk_candidate_kernel(
        q_ids, qmat, k=nb, qid_type="long", nid_type="long",
        cell_lut=np.ones((n_cells, len(q_ids)), dtype=bool), pq=(cents, books),
    )
    out = pd.concat(list(kern(iter([pdf]))))
    found = out[out["kind"] == 0]
    assert len(found) == (nb - 1) * len(q_ids)
    assert nb - 1 not in set(found["neighbor_id"])
    assert (out[out["kind"] == 1]["n"] == nb - 1).all()


def _semantic_dedup_reference(corpus_rows, n_cells, n_assign, threshold):
    """Independent numpy transcription of the semantic_dedup contract:
    id-ordered <=512 sample, Lloyd quantizer, top-n_assign cell route,
    pair candidate iff shares >= 1 cell, removed iff some lower id
    within threshold, keep the rest."""
    rows = sorted(corpus_rows, key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sample = mat[:512]
    c = sample[: min(n_cells, len(sample))].copy()
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    for _ in range(10):
        assign = np.argmax(sample @ c.T, axis=1)
        for j in range(len(c)):
            members = sample[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    a = min(n_assign, len(c))
    cells = np.argsort(-(mat @ c.T), axis=1)[:, :a]
    cell_sets = [set(r) for r in cells]
    sims = mat @ mat.T
    removed = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if cell_sets[i] & cell_sets[j] and sims[i, j] >= threshold:
                removed.add(ids[j])
    return sorted(int(x) for x in ids if x not in removed)


@pytest.mark.parametrize("n_cells,n_assign", [(8, 8), (8, 3), (8, 2)])
def test_semantic_dedup_routes_match_reference(spark, corpus, n_cells, n_assign):
    # (8, 8) and (8, 3) take the r16 dense bitmask route (a^2 >= C);
    # (8, 2) takes the per-cell route — both must reproduce the
    # independent numpy transcription of the cell-share contract.
    rows = [(r["vec_id"], list(r["embedding"])) for r in corpus.collect()]
    expect = _semantic_dedup_reference(rows, n_cells, n_assign, 0.93)
    got = sorted(
        r[0]
        for r in SIM.semantic_dedup(
            corpus, threshold=0.93, n_cells=n_cells, n_assign=n_assign
        ).collect()
    )
    assert got == expect
