"""Keyword retrieval over a document corpus: Okapi BM25 top-k.

The lexical-search counterpart of the embedding ANN family
(operators/similarity.py) — together they are the two retrieval
surfaces a training-data / RAG pipeline needs. Public formula
(Robertson & Zaragoza 2009):

    score(d, q) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))

Scale shape: the exploded corpus terms are FILTERED to the query's
terms map-side before anything shuffles, so the per-(doc, term) tf
aggregation carries only matching postings; document-frequency and the
(N, avgdl) corpus scalars are 1-row/tiny broadcast crossJoins; the
final top-k is an ordered limit (TakeOrdered — no global sort
materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents for a keyword ``query`` under BM25 with
    ``k1=1.2, b=0.75``.

    Returns (id_col, score, rank) with ``score`` rounded to 6 decimals
    and ranks tie-broken by id — the rounded score keeps the ordering
    stable across engines/libm ulp differences.
    """
    terms = sorted({t.lower() for t in query.split() if t})
    if not terms:
        raise ValueError("bm25_topk: empty query")

    toks = docs.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("__dl"),
        F.explode(F.transform(tokens(text_col), lambda t: F.lower(t))).alias("__t"),
    )
    # map-side selectivity: only query-term postings survive the scan
    hits = toks.filter(F.col("__t").isin(terms))
    tf = hits.groupBy(id_col, "__t", "__dl").agg(F.count("*").alias("__tf"))

    df_counts = tf.groupBy("__t").agg(F.count("*").alias("__df"))
    corpus = docs.agg(
        F.count("*").cast("double").alias("__n"),
        (F.sum(F.size(tokens(text_col))) / F.count("*")).alias("__avgdl"),
    )

    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5))
    tf_term = (F.col("__tf") * 2.2) / (
        F.col("__tf") + 1.2 * (0.25 + 0.75 * F.col("__dl") / F.col("__avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_counts), "__t")
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_term), 6).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    # ordered limit: Catalyst plans sort+limit as TakeOrdered(k) — the
    # window rank over the k-row result is driver-cheap
    topk = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    return topk.select(
        id_col, "score", F.row_number().over(w).cast("int").alias("rank")
    )
