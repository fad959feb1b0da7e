"""N-gram language-model perplexity scoring (CCNet-style quality
filtering).

The standard public corpus-filtering signal (CCNet, Wenzek et al.
2020; also the Gopher/RefinedWeb pipelines): score each document by
the per-token log-probability of a small n-gram LM trained on a
held-in slice, then keep/bucket documents by that score. The reference
ETL has no LM stage — this is one of the LLM-data-pipeline extensions
the engine ships as first-class operators (SURVEY.md §6).

Spark-first shape, sized for 100 TB:

* **Training is one groupBy each** for unigram and bigram counts over
  the held-in slice (map-side partial aggregation does the heavy
  lifting; the model is the aggregate, never the corpus).
* **The pruned model broadcasts.** A count-pruned bigram table is
  vocabulary-sized, not corpus-sized (empirically ~10-50 MB for a
  100k-type vocabulary — broadcastable by design; CCNet itself ships
  ~100 MB models per language). Scoring is then two BROADCAST hash
  joins + native column arithmetic — zero shuffles on the scored
  corpus until the final per-doc aggregate, zero Python anywhere.
* **Stupid backoff** (Brants et al. 2007) rather than Kneser-Ney:
  no normalization pass, score = c2/c1 on a bigram hit, else
  0.4 * c1/N, else 0.4/N — exactly the large-scale trade the
  paper proposes (quality parity at corpus scale, trivially
  distributable arithmetic).

Determinism contract: log-probabilities use ln() (libm vs JVM Math
agree to 1 ulp) and the per-document mean is rounded to 6 decimals on
both engines before hashing — the same convention the BM25 entry
certifies. Perplexity (exp(-avg)) is monotone in avg_logprob, so
downstream filters can threshold either; the oracle-graded surface
ships avg_logprob to keep exp() out of the hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text: Column) -> Column:
    """Lowercased whitespace tokens — the catalog's shared
    tokenization (functions/text.py), inlined so the lambda stays one
    expression tree."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != F.lit(""))


def _bigrams(toks: Column) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs (empty for docs
    under 2 tokens)."""
    return F.filter(
        F.transform(
            toks,
            lambda x, i: F.when(
                i < F.size(toks) - 1,
                F.struct(x.alias("w1"), F.element_at(toks, i + 2).alias("w2")),
            ),
        ),
        lambda p: p.isNotNull(),
    )


def bigram_logprob_score(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Score every held-out document (``doc_id % 10 != 0``) with a
    stupid-backoff bigram LM (backoff weight 0.4) trained on the
    held-in slice, keeping bigrams seen at least twice.

    Returns (doc_id, n_transitions, avg_logprob): the number of scored
    bigram transitions and their mean natural-log probability (rounded
    to 6 decimals). Documents with fewer than 2 tokens score no
    transitions and are absent. Higher avg_logprob = more in-domain;
    perplexity is ``exp(-avg_logprob)``.

    Plan shape: two aggregations over the train slice build the model;
    the scored corpus pays ONE explode + two broadcast joins + one
    per-doc aggregate — audited in tools/explain_audit.py (broadcast
    model, no shuffle of the corpus before the doc_id aggregate).
    """
    tok = docs.select(
        F.col(doc_id).alias("doc_id"), _tokens(F.col(text)).alias("toks")
    )
    is_train = (F.col("doc_id") % 10) == 0
    train = tok.filter(is_train)

    # The unigram model is VOCABULARY-sized; localCheckpoint it so the
    # three consumers below (n_total, the w1 side, the w2 side) reuse
    # the materialized frame instead of each re-deriving the aggregate
    # from the corpus — without the barrier the final plan scans the
    # train slice once PER consumer (measured r13: 5 corpus FileScans
    # in the executed plan; 3 after). At warehouse scale persist the
    # model to a table instead.
    uni = (
        train.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .localCheckpoint(eager=False)
    )
    # Model scalars ride the plan as a broadcast crossJoin (same idiom
    # as the BM25 corpus stats) — no driver round-trip, no closure
    # capture, re-derivable from any snapshot of the train slice.
    tot = uni.agg(F.sum("c1").cast("double").alias("n_total"))
    bi = (
        train.select(F.explode(_bigrams(F.col("toks"))).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .filter(F.col("c2") >= 2)
    )

    pairs = tok.filter(~is_train).select(
        "doc_id", F.explode(_bigrams(F.col("toks"))).alias("p")
    ).select("doc_id", "p.w1", "p.w2")

    u1 = uni.select(F.col("w").alias("__u1_w"), F.col("c1").alias("__u1_c"))
    u2 = uni.select(F.col("w").alias("__u2_w"), F.col("c1").alias("__u2_c"))
    scored = (
        pairs.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(u1), F.col("w1") == F.col("__u1_w"), "left")
        .join(F.broadcast(u2), F.col("w2") == F.col("__u2_w"), "left")
        .crossJoin(F.broadcast(tot))
    )
    lp = (
        F.when(
            F.col("c2").isNotNull(),
            F.log(F.col("c2").cast("double") / F.col("__u1_c").cast("double")),
        )
        .when(
            F.col("__u2_c").isNotNull(),
            F.log(F.lit(0.4) * F.col("__u2_c").cast("double") / F.col("n_total")),
        )
        .otherwise(F.log(F.lit(0.4) / F.col("n_total")))
    )
    return (
        scored.select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 6)
            .cast("double")
            .alias("avg_logprob"),
        )
    )


def dsir_logratio_score(
    docs: DataFrame,
    target: Column,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — the public
    data-selection recipe): score every document by the average
    log-likelihood ratio of its HASHED unigram features under a
    target-slice model vs the raw-corpus model,

        w(doc) = avg_t [ ln p_target(h(t)) - ln p_raw(h(t)) ]

    with add-one smoothing over 1024 hashed buckets (salt ``'dsir'``). Rows
    where ``target`` is true define the target distribution; the raw
    model is the whole corpus. Importance RESAMPLING then composes
    with the engine's weighted_sample on exp(w) — this operator ships
    the weights, which is the part with distributed structure.

    One corpus pass builds BOTH models (count + conditional count per
    bucket in a single groupBy); the bucket table (<= 1024 rows)
    broadcasts; scoring is one broadcast join + a per-doc aggregate —
    the same 100 TB shape as bigram_logprob_score. The bucket hash is
    the catalog's portable md5-prefix idiom, so the DuckDB oracle
    reproduces it bit-for-bit; ln()/round-6 per the BM25 contract.
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("__w"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1024
    )
    base = docs.select(
        F.col(doc_id).alias("doc_id"),
        target.alias("__t"),
        F.explode(_tokens(F.col(text))).alias("__w"),
    ).select("doc_id", "__t", bucket.alias("__bk"))
    # <= 1024 rows: checkpoint so `totals` reuses the materialized
    # bucket table instead of re-deriving the aggregate from a second
    # corpus scan (same r13 fix as bigram_logprob_score's `uni`).
    counts = base.groupBy("__bk").agg(
        F.count(F.lit(1)).cast("long").alias("__cs"),
        F.count_if(F.col("__t")).cast("long").alias("__ct"),
    ).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("__cs").cast("double").alias("__ns"),
        F.sum("__ct").cast("double").alias("__nt"),
    )
    b = 1024.0
    lr = F.log((F.col("__ct") + 1.0) / (F.col("__nt") + b)) - F.log(
        (F.col("__cs") + 1.0) / (F.col("__ns") + b)
    )
    return (
        base.join(F.broadcast(counts), "__bk")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", lr.alias("__lr"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("__lr") / F.count(F.lit(1)), 6)
            .cast("double")
            .alias("avg_log_ratio"),
        )
    )


def collocations(
    docs: DataFrame,
    text: str = "text",
    min_count: int = 2,
    with_pmi: bool = False,
) -> DataFrame:
    """Adjacent-bigram collocation mining — the corpus-analytics pass
    behind PMI phrase tables / tokenizer-merge seeding (Church & Hanks
    1990's association-ratio formulation over bigram EVENTS: p(x,y) =
    n_xy/N with marginals n_x = x's occurrences as LEFT element and
    n_y = y's as RIGHT, all from the same event frame).

    Returns (w1, w2, n_xy, n_x, n_y, n_total) for every bigram with
    ``n_xy >= min_count`` — exact integers, so the graded surface
    hashes engine-identically; ``with_pmi=True`` adds
    ``pmi = ln(n_xy*N / (n_x*n_y))`` for production consumers (kept
    OFF the oracle surface: ln() ulp drift has no place in a hash,
    the module-doc determinism contract).

    Scale shape: ONE corpus-sized shuffle — the (w1, w2) count — with
    every marginal DERIVED from that aggregate (vocab^2-bounded,
    orders of magnitude smaller than the corpus) rather than from a
    second corpus pass; the bigram explode is map-side array work.
    The count frame feeds four consumers (marginals x2, total, the
    output join), so it localCheckpoints — at cluster scale persist
    or write it, it IS the model. Marginal joins are vocabulary-sized
    (AQE broadcasts them); the scalar total rides a 1-row broadcast.
    """
    # Bind the token array to a COLUMN before _bigrams: the transform
    # lambda references its input per element (size + element_at), and
    # an inlined tokenization expression would re-tokenize the doc for
    # every element — O(tokens^2) per doc, measured 8.0 s -> 0.45 s on
    # 5k docs (the round-5 minhash inlining trap; bigram_logprob_score
    # binds for the same reason).
    b = (
        docs.select(_tokens(F.col(text)).alias("__t"))
        .select(F.explode(_bigrams(F.col("__t"))).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c = (
        b.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .localCheckpoint(eager=False)
    )
    cx = c.groupBy("w1").agg(F.sum("n_xy").cast("long").alias("n_x"))
    cy = c.groupBy("w2").agg(F.sum("n_xy").cast("long").alias("n_y"))
    n = c.agg(F.sum("n_xy").cast("long").alias("n_total"))
    out = (
        c.filter(F.col("n_xy") >= min_count)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "n_xy", "n_x", "n_y", "n_total")
    )
    if with_pmi:
        # doubles BEFORE the multiplies: n_xy * n_total in int64
        # silently wraps once the corpus passes ~10^9 bigrams with a
        # frequent pair (long*long overflow is unchecked outside ANSI
        # mode); pmi is a float metric, so the double product is the
        # right arithmetic anyway.
        out = out.withColumn(
            "pmi",
            F.log(
                F.col("n_xy").cast("double") * F.col("n_total").cast("double")
                / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
            ),
        )
    return out
