"""The ANN query paths run one Arrow local-top-k kernel. The
join-shaped forms below are the test model: they state the IVF probe
and the IVF-PQ ADC refine cut operator for operator, and the kernel
path must return IDENTICAL rows for probe-all and approximate configs,
including the refine settings where the ADC cut removes candidates."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from fhc_rco_etl_scalable_spark.operators import similarity as SIM
from fhc_rco_etl_scalable_spark.operators.similarity import _unit, dot


def _ivf_join_model(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Indexed IVF as a cell equi-join: each query explodes into its
    ``n_probe`` nearest cells, joins the assignment rows of those
    cells, and window-ranks the native cosine of every candidate."""
    cent_rows = sorted(centroids.collect(), key=lambda r: r.cell)
    cents = np.asarray([r.centroid for r in cent_rows], dtype=np.float64)
    n_probe_eff = min(n_probe, len(cents))

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)
        order = np.argsort(-(v @ cents.T), axis=1)[:, :n_probe_eff].astype(np.int32)
        return pd.Series(list(order))

    c = assignments.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("unit_vec").alias("__cv"),
        F.col("cell").alias("__cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _unit(F.col(vec_col)).alias("__qv")
    ).withColumn("__cell", F.explode(probe_cells(F.col("__qv"))))
    cand = c.join(F.broadcast(q), "__cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cand = cand.withColumn("cos_sim", dot(F.col("__qv"), F.col("__cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
        )
    )


def _pq_join_model(
    assignments: DataFrame,
    cents: np.ndarray,
    books: list,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    refine: int,
) -> DataFrame:
    """IVF-PQ as a cell equi-join: probe, score every candidate's ADC
    dot, keep each query's top ``refine * k`` by (ADC DESC,
    neighbor_id), then window-rank the survivors by native cosine."""
    m_subvectors = len(books)
    sub = books[0].shape[1]
    n_probe_eff = min(n_probe, len(cents))

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)
        order = np.argsort(-(v @ cents.T), axis=1)[:, :n_probe_eff].astype(np.int32)
        return pd.Series(list(order))

    @pandas_udf("double")
    def adc_dot(qv: pd.Series, cell: pd.Series, codes: pd.Series) -> pd.Series:
        q = np.asarray(qv.tolist(), dtype=np.float64)
        cel = np.asarray(cell, dtype=np.int64)
        s = np.einsum("bd,bd->b", q, cents[cel])
        code = np.asarray(codes.tolist(), dtype=np.int64)
        for j in range(m_subvectors):
            qs = q[:, j * sub : (j + 1) * sub]
            vs = books[j][code[:, j]]
            s = s + np.einsum("bs,bs->b", qs, vs)
        return pd.Series(s)

    c = assignments.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("unit_vec").alias("__cv"),
        F.col("cell").alias("__cell"),
        F.col("codes").alias("__codes"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _unit(F.col(vec_col)).alias("__qv")
    ).withColumn("__cell", F.explode(probe_cells(F.col("__qv"))))
    cand = c.join(F.broadcast(q), "__cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cand = cand.withColumn(
        "__adc", adc_dot(F.col("__qv"), F.col("__cell"), F.col("__codes"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id")
    )
    survivors = cand.withColumn("__arank", F.row_number().over(w_adc)).filter(
        F.col("__arank") <= refine * k
    )
    survivors = survivors.withColumn("cos_sim", dot(F.col("__qv"), F.col("__cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
        )
    )


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


# quantizer shared by every IVF-PQ test below: so coarse (2 codes per
# subvector) that the ADC order is far from the cosine order and the
# per-batch ADC top-(refine * k) reaches past the cosine top-k
_PQ = dict(n_cells=4, m_subvectors=2, n_codes=2)


@pytest.fixture(scope="module")
def pq_corpus(spark):
    """300 seeded gaussian vectors, dim 8, whose last 50 repeat the
    first 50: distinct vectors make the ADC order differ from the
    cosine order (so the refine cut changes results), the repeats make
    exact ADC and cosine ties that neighbor_id must break."""
    vecs = np.random.default_rng(7).normal(size=(300, 8))
    vecs[250:] = vecs[:50]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def pq_index(spark, pq_corpus):
    """The stored-index frames plus the model's inputs: the trained
    arrays and an encoded assignment frame built from them (the same
    stages ivfpq_index and ivfpq_topk run)."""
    a, c, b = SIM.ivfpq_index(pq_corpus, **_PQ)
    cents, books = SIM._pq_train(
        pq_corpus, "vec_id", "embedding", _PQ["n_cells"], _PQ["m_subvectors"],
        _PQ["n_codes"], 512,
    )
    encoded = SIM._pq_encode(pq_corpus, cents, books, "vec_id", "embedding")
    return (
        a.localCheckpoint(eager=True), c, b, cents, books,
        encoded.localCheckpoint(eager=True),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ivf_indexed_kernel_equals_join(spark, corpus):
    queries = corpus.filter(F.col("vec_id") < 7)
    a, c = SIM.ivf_index(corpus, n_cells=8)
    a = a.localCheckpoint(eager=True)
    for n_probe in (8, 2):  # probe-all and a genuinely approximate config
        model = _rows(_ivf_join_model(a, c, queries, k=5, n_probe=n_probe))
        kernel = _rows(SIM.ivf_topk_indexed(a, c, queries, k=5, n_probe=n_probe))
        assert kernel == model and len(model) > 0


def _pq_kernel_and_model(corpus, pq_index, n_probe, refine):
    queries = corpus.filter(F.col("vec_id") < 20)
    a, c, b, cents, books, encoded = pq_index
    model = _rows(
        _pq_join_model(
            encoded, cents, books, queries, "vec_id", "embedding", 5, n_probe, refine
        )
    )
    indexed = _rows(
        SIM.ivfpq_topk_indexed(a, c, b, queries, k=5, n_probe=n_probe, refine=refine)
    )
    oneshot = _rows(
        SIM.ivfpq_topk(corpus, queries, k=5, n_probe=n_probe, refine=refine, **_PQ)
    )
    return model, indexed, oneshot


def test_pq_kernel_equals_join_vacuous_refine(spark, pq_corpus, pq_index):
    for n_probe in (4, 2):  # probe-all and a genuinely approximate config
        model, indexed, oneshot = _pq_kernel_and_model(
            pq_corpus, pq_index, n_probe, 1_000_000
        )
        assert indexed == model and oneshot == model and len(model) > 0


@pytest.mark.parametrize("refine", [1, 2, 3])
def test_pq_kernel_equals_join_when_refine_cuts(spark, pq_corpus, pq_index, refine):
    # refine * k is far below the candidates per query, so the ADC cut
    # decides which rows reach the cosine re-rank
    for n_probe in (4, 2):
        model, indexed, oneshot = _pq_kernel_and_model(
            pq_corpus, pq_index, n_probe, refine
        )
        assert indexed == model and oneshot == model and len(model) > 0


def test_pq_query_leaves_no_persistent_rdd(spark, pq_corpus, pq_index):
    # the query path materializes nothing: compared as id sets, not
    # sizes, so an async ContextCleaner removal cannot flake it
    queries = pq_corpus.filter(F.col("vec_id") < 7)
    a, c, b = pq_index[:3]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = SIM.ivfpq_topk_indexed(a, c, b, queries, k=5, n_probe=4, refine=1_000_000)
    assert out.count() > 0
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


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
    # n_cells): the kernel must neither raise nor return that row, and
    # every kept row carries its ADC score
    rng = np.random.default_rng(0)
    dim, n_cells, m, n_codes, nb = 8, 4, 2, 4, 6
    cents = rng.normal(size=(n_cells, dim))
    books = [rng.normal(size=(n_codes, dim // m)) for _ in range(m)]
    q_ids = np.array([100, 101])
    qmat = rng.normal(size=(len(q_ids), dim))
    cells = [0, 1, 2, 3, 0, n_cells]
    pdf = pd.DataFrame(
        {
            "__id": np.arange(nb),
            "unit_vec": [list(v) for v in rng.normal(size=(nb, dim))],
            "cell": cells,
            "codes": [[0, 1]] * nb,
        }
    )
    kern, schema = SIM._topk_candidate_kernel(
        q_ids, qmat, k=nb, qid_type="long", nid_type="long",
        cell_lut=np.ones((n_cells, len(q_ids)), dtype=bool), pq=(cents, books, nb),
    )
    assert schema.endswith("unit_vec array<double>, adc double")
    out = pd.concat(list(kern(iter([pdf]))))
    assert len(out) == (nb - 1) * len(q_ids)
    assert nb - 1 not in set(out["neighbor_id"])
    recon = np.concatenate([books[0][0], books[1][1]])
    for r in out.itertuples(index=False):
        q = qmat[list(q_ids).index(r.query_id)]
        want = q @ cents[cells[r.neighbor_id]] + q @ recon
        assert abs(r.adc - want) < 1e-12


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
