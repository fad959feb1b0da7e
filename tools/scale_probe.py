"""Scale probe: run the whole-site pipeline on N-times-replicated
input and report how wall time scales.

Replication unions N copies of the harness event log with disjoint
key spaces (user_id + k*10^7, event_id + k*10^9) — N times the rows
AND N times the lines, i.e. the realistic growth axis for the RCO
workload (more production lines, not longer per-line history). Every
shuffle key space grows proportionally, so near-linear wall time here
is evidence the plan has no all-pairs / driver-side bottleneck hiding
at test scale.

Usage: python tools/scale_probe.py [--probe site|minhash|corpus|span|margin|fuzzy|funnel|semdedup|ngram|bpe|substr|substr_skew|graph|sliding|negsample|incdedup|gapfill|lttb|ewma|kcore|lpa|lpa_scale|pivot] [--base B] [sf_dir] [N ...]
--probe graph times the degree-oriented triangle census on a hub graph;
--probe ewma times the Arrow-fold ewma (alpha 1/2).
Prints one line per N plus a JSON summary. --base B pre-replicates
the input B-fold before the probe's own N-fold replication, so
N=1/4/8 at --base 10 measures an sf1-equivalent base corpus where
per-query fixed costs no longer dominate the data-proportional work.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def scaled_events(spark, sf_dir: str, n: int):
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    base = load_table(spark, "events", sf_dir)
    parts = [
        base.select(
            (F.col("event_id") + F.lit(k * 1_000_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(k * 10_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(n)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_pipeline(spark, ev) -> dict[str, int]:
    from fhc_rco_etl_scalable_spark.plans.harness_queries import (
        downtime_log_from_events,
    )
    from fhc_rco_etl_scalable_spark.plans.rco_pipeline import SiteParams
    from fhc_rco_etl_scalable_spark.plans.site_etl import site_etl

    downtime = downtime_log_from_events(ev)
    line_config = (
        downtime.select("LINE")
        .distinct()
        .select(
            F.col("LINE").alias("MDC_Line_Name"),
            F.lit("CM").alias("Constraint_Machine_String"),
        )
    )
    outs = site_etl(downtime, None, SiteParams(server="SCALE"), line_config=line_config)
    return {k: df.count() for k, df in sorted(outs.items())}


def scaled_documents(spark, sf_dir: str, n: int, mode: str = "cipher"):
    """N-fold replicated documents with disjoint ids AND disjoint text,
    so replication grows the candidate/pair space LINEARLY (like
    ingesting N independent crawl shards), never quadratically.

    Per-replica salting depends on what the probe dedups on:

    - ``cipher`` (minhash near-dup probe): suffix EVERY token with a
      per-replica tag (one regexp_replace). Token n-gram sets map
      bijectively, so within-replica Jaccard structure is preserved
      EXACTLY, while cross-replica grams share nothing for ANY replica
      count — a whole-document prefix/suffix tag would leave
      cross-replica signatures near-identical and banding would emit
      ~N^2 pairs (as would any finite cipher family once replicas
      exceed its size).
    - ``suffix`` (exact-fingerprint corpus probe): append ONE replica
      token. Exact md5 fingerprints become disjoint across replicas
      (one token is enough), while language/stopword/quality stats are
      essentially untouched, so the kept-row count scales ~N-fold.
    """
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    base = load_table(spark, "documents", sf_dir)
    parts = []
    for k in range(n):
        if mode == "suffix":
            text = (
                F.col("text")
                if k == 0
                else F.concat(F.col("text"), F.lit(f" zqshard{k}"))
            )
        else:
            text = (
                F.col("text")
                if k == 0
                else F.regexp_replace(F.col("text"), r"(\S+)", f"$1zq{k}")
            )
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(k * 1_000_000_000)).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def run_minhash(spark, docs) -> dict[str, int]:
    from fhc_rco_etl_scalable_spark.operators import dedup as DD

    return {"pairs": DD.minhash_lsh_candidates(docs, "doc_id", "text").count()}


def run_corpus_prep(spark, docs) -> dict[str, int]:
    from pyspark.sql import Window

    from fhc_rco_etl_scalable_spark.functions import text as TX

    toks = TX.tokens("text")
    enriched = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        TX.detect_language("text").alias("lang_guess"),
        TX.quality_score("text").alias("quality"),
        TX.normalized_fingerprint("text").alias("__fp"),
    )
    w = Window.partitionBy("__fp")
    out = (
        enriched.withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("lang_guess") == F.col("lang"))
            & F.col("keep")
        )
        .select("doc_id", "lang", "n_tokens", "quality")
    )
    return {"kept": out.count()}


def run_span(spark, docs) -> dict[str, int]:
    from fhc_rco_etl_scalable_spark.operators import dedup as DD

    out = DD.span_dedup(docs, "doc_id", "text")
    row = out.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_spans_kept").alias("spans")
    ).first()
    return {"docs": row["docs"], "spans": int(row["spans"])}


def scaled_embeddings_x(spark, sf_dir: str, n: int):
    """N-fold replicated x-side vectors (label < 5) with disjoint ids
    and per-replica ROTATED embeddings (cyclic shift of the 64 dims:
    norm-preserving, deterministic, and neighbor structure diversifies
    across replicas so top-k work scales honestly)."""
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    base = load_table(spark, "embeddings", sf_dir).filter(F.col("label") < 5)
    parts = []
    for k in range(n):
        s = k % 64
        emb = (
            F.col("embedding")
            if s == 0
            else F.concat(
                F.slice("embedding", s + 1, 64 - s), F.slice("embedding", 1, s)
            )
        )
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(k * 1_000_000_000)).alias("vec_id"),
                emb.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def run_margin(spark, xs, sf_dir: str) -> dict[str, int]:
    """margin_pairs with the x side scaled and the y side CONSTANT —
    the claim under test: the y matrix is a closure constant shipped
    once, and x-side Arrow batches scale linearly."""
    from fhc_rco_etl_scalable_spark.operators import similarity as SIM
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    ys = load_table(spark, "embeddings", sf_dir).filter(F.col("label") >= 5)
    out = SIM.margin_pairs(xs, ys, "vec_id", "embedding", k=4, margin_threshold=1.0)
    return {"pairs": out.count()}


def skewed_names(spark, n: int, base: int = 2000):
    """Deterministic corpus with a SKEWED length distribution (half the
    strings land on lengths 5-6) and diverse content (md5-hex): the
    regime where length banding concentrates the candidate join on a
    couple of reducers and segment blocking does not."""
    lengths = [6, 6, 6, 6, 5, 5, 5, 7, 7, 7, 6, 5, 4, 8, 9, 12]
    lut = F.array(*[F.lit(x) for x in lengths])
    return spark.range(n * base).select(
        F.concat(
            F.lit("w"),
            F.substring(
                F.md5(F.col("id").cast("string")),
                1,
                F.element_at(lut, (F.col("id") % 16 + 1).cast("int")),
            ),
        ).alias("name")
    )


def run_fuzzy(spark, names, sf_dir: str) -> dict:
    """Both blockings on the same corpus: wall, verified matches,
    PRE-verify candidate count, and the max join-key share (the
    fraction of all candidate pairs landing on the hottest key — the
    reducer-concentration number that kills length banding at scale)."""
    from fhc_rco_etl_scalable_spark.operators import fuzzy as FZ

    d = 1
    vals = names.select(F.col("name").alias("name_a")).distinct()
    vals_b = vals.select(F.col("name_a").alias("name_b"))
    out: dict = {}
    for blocking in ("segment", "length"):
        t0 = time.time()
        n_matches = FZ.fuzzy_self_match(names, "name", d, blocking).count()
        wall = time.time() - t0
        cands = FZ._candidate_pairs(vals, vals_b, d, blocking).count()
        if blocking == "length":
            a = vals.select(F.length("name_a").alias("key"))
            b = vals_b.select(
                F.explode(
                    F.sequence(F.length("name_b") - d, F.length("name_b") + d)
                ).alias("key")
            )
        else:
            a = vals.select(
                F.explode(FZ._probe_signatures(F.col("name_a"), d)).alias("key")
            )
            b = vals_b.select(
                F.explode(FZ._index_signatures(F.col("name_b"), d)).alias("key")
            )
        dist = (
            a.groupBy("key").count().withColumnRenamed("count", "cnt_a")
            .join(b.groupBy("key").count(), "key")
            .select((F.col("cnt_a") * F.col("count")).alias("prod"))
            .agg(F.sum("prod").alias("tot"), F.max("prod").alias("mx"))
            .first()
        )
        out[f"{blocking}_wall_sec"] = round(wall, 2)
        out[f"{blocking}_matches"] = n_matches
        out[f"{blocking}_candidates"] = cands
        out[f"{blocking}_max_key_share"] = round(dist["mx"] / dist["tot"], 4)
    return out


def run_funnel(spark, ev) -> dict[str, int]:
    """funnel_conversion + cohort_retention on replicated users (the
    disjoint-id convention: replicas add USERS, the growth axis of
    product analytics). The claim under test: both plans ride ONE
    hashpartitioning(user_id) exchange, so wall grows ~linearly with
    users and there is no join or driver-side step to blow up."""
    from fhc_rco_etl_scalable_spark.plans.harness_queries import (
        cohort_from_events,
        funnel_from_events,
    )

    funnel = funnel_from_events(ev.select("user_id", "event_type", "ts"))
    row = funnel.first()
    cohort = cohort_from_events(
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
    )
    return {
        "n_view": int(row["n_view"]),
        "n_view_click_buy": int(row["n_view_click_buy"]),
        "cohort_cells": cohort.count(),
    }


def run_semdedup(spark, emb) -> dict:
    """semantic_dedup on rotation-salted replicated embeddings
    (n_assign=1, the published scale path). Alongside wall time the
    probe records the candidate-pair count and the hottest cluster's
    share of it — the per-cluster boundedness that makes SemDeDup
    tractable where all-pairs is not (candidates ~ sum of cell^2, and
    no cell dominates).

    Cluster count SCALES WITH THE CORPUS (~125 vectors per cell),
    exactly as the published recipe sizes k (SemDeDup uses k ~ n/2000
    at 100M-scale): the probe's first run with k FIXED at 16 measured
    candidates pinned at 1/16 of all-pairs — i.e. quadratic growth,
    119.9 s at x8 — because constant cluster count means cluster SIZE
    grows with n. With k ∝ n the per-cell population is constant, the
    candidate count is linear in n, and so is the wall."""
    from fhc_rco_etl_scalable_spark.operators import similarity as SIM

    n = emb.count()
    n_cells = max(16, n // 125)
    kept = SIM.semantic_dedup(
        emb, threshold=0.45, n_cells=n_cells, n_assign=1,
        sample_size=max(512, 8 * n_cells),
    ).count()
    # candidate accounting: same quantizer, same assignment
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    sample_rows = (
        emb.select(SIM._unit(F.col("embedding")).alias("uv"), F.col("vec_id").alias("sid"))
        .orderBy("sid").limit(max(512, 8 * n_cells)).collect()
    )
    sample = np.asarray([r.uv for r in sample_rows], dtype=np.float64)
    cents = SIM._kmeans_centroids(sample, min(n_cells, len(sample)))

    @pandas_udf("int")
    def cell_of(vecs):
        v = np.asarray(vecs.tolist(), dtype=np.float64)
        import pandas as _pd

        return _pd.Series(np.argmax(v @ cents.T, axis=1).astype(np.int32))

    sizes = (
        emb.select(cell_of(SIM._unit(F.col("embedding"))).alias("c"))
        .groupBy("c").count().select((F.col("count") * (F.col("count") - 1) / 2).alias("pairs"))
        .agg(F.sum("pairs").alias("tot"), F.max("pairs").alias("mx")).first()
    )
    n = emb.count()
    all_pairs = n * (n - 1) / 2
    # Degenerate runs (every cluster a singleton → tot 0; n < 2 →
    # all_pairs 0) must still emit a summary line, not crash
    # (ADVICE r8 #5).
    tot = int(sizes["tot"] or 0)
    mx = int(sizes["mx"] or 0)
    return {
        "kept": kept,
        "candidates": tot,
        "candidate_frac_of_allpairs": (
            round(tot / all_pairs, 4) if all_pairs else 0.0
        ),
        "max_cluster_share": round(mx / tot, 4) if tot else 0.0,
    }


def scaled_embeddings_all(spark, sf_dir: str, n: int):
    """Full embeddings table replicated with the rotation salting (no
    label filter — the dedup probe wants the whole space)."""
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    base = load_table(spark, "embeddings", sf_dir)
    parts = []
    for k in range(n):
        s = k % 64
        emb = (
            F.col("embedding")
            if s == 0
            else F.concat(
                F.slice("embedding", s + 1, 64 - s), F.slice("embedding", 1, s)
            )
        )
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(k * 1_000_000_000)).alias("vec_id"),
                emb.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def run_substr(spark, docs) -> dict:
    """ExactSubstr (substring_dedup) on cipher-replicated docs:
    replicas share NO grams (per-token tag), so the duplicated-gram
    space and the covered-position space both grow ~N-fold — the
    independent-shard growth axis. Claim: wall ~linear (gram-keyed
    aggregate + semi-join + doc-keyed merge; no all-pairs), and the
    removal fraction stays constant across replicas (the within-shard
    duplicate structure is preserved exactly by the cipher)."""
    from fhc_rco_etl_scalable_spark.operators.dedup import substring_dedup

    out = substring_dedup(docs, "doc_id", "text", min_tokens=8)
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_removed").alias("removed"),
        F.sum("n_spans").alias("spans"),
    ).first()
    return {
        "docs": int(agg["docs"]),
        "tokens": int(agg["tokens"]),
        "removed": int(agg["removed"]),
        "spans": int(agg["spans"]),
        "removed_frac": round(agg["removed"] / max(agg["tokens"], 1), 4),
    }


_SKEW_BOILER = (
    "click here to accept cookies and continue reading this article"
    " on our website platform"
)


def boilerplate_documents(spark, sf_dir: str, n: int):
    """Cipher-replicated docs with ONE un-ciphered boilerplate sentence
    appended to 30% of ALL docs (doc_id%10<3 in every replica): the
    replica-shared sentence makes its 8-grams the globally hottest
    keys, and their occurrence count grows ~N-fold — the r9 verdict's
    hot-gram skew axis (one boilerplate string dominating a crawl)."""
    docs = scaled_documents(spark, sf_dir, n, mode="cipher")
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 3,
            F.concat(F.col("text"), F.lit(" " + _SKEW_BOILER)),
        ).otherwise(F.col("text")),
    )


def run_substr_skew(spark, docs) -> dict:
    """substring_dedup under a deliberately hot gram (30% boilerplate).

    Wall is measured around the dedup itself; afterwards the probe
    re-derives the operator's gram frame to report WHERE the skew
    lives: top_gram_share = hottest gram's occurrences / all gram
    occurrences (what the cov semi-join shuffles per partition if the
    dup side ever stops broadcasting), and max_part_share = the
    hottest hash partition's share under the session's shuffle
    partitioning (what a gram-keyed exchange actually routes). The
    COUNT path (groupBy gram) stays bounded regardless — map-side
    partials emit one row per distinct gram per mapper."""
    from fhc_rco_etl_scalable_spark.operators.dedup import substring_dedup

    out = substring_dedup(docs, "doc_id", "text", min_tokens=8)
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_removed").alias("removed"),
    ).first()
    # Post-wall diagnostics: rebuild the gram frame exactly as the
    # operator tokenizes (same delimiter class, same min_tokens).
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"[ \t\n\f\r]+"),
        lambda x: x != "",
    )
    base = docs.select(toks.alias("__toks"))
    nn = F.size("__toks")
    grams = base.filter(nn >= 8).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nn - 8),
                lambda i: F.array_join(F.slice("__toks", i + 1, 8), " "),
            )
        ).alias("gram")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part_stats = (
        grams.groupBy(F.pmod(F.hash("gram"), F.lit(n_part)).alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .first()
    )
    top_gram = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"))
        .first()["mx"]
    )
    tot = int(part_stats["tot"]) or 1
    return {
        "docs": int(agg["docs"]),
        "removed": int(agg["removed"]),
        "removed_frac": round(agg["removed"] / max(agg["tokens"], 1), 4),
        "gram_occurrences": tot,
        "top_gram_count": int(top_gram),
        "top_gram_share": round(int(top_gram) / tot, 4),
        "max_part_share": round(int(part_stats["mx"]) / tot, 4),
        "shuffle_partitions": n_part,
    }


def hub_edges(spark, n: int):
    """Power-law-ish graph scaled n-fold: V=2000n nodes, E=20000n
    directed edge draws, 20% of draws attaching to a MID-ID hub so
    its degree grows ~n while its id stays middle-of-range — the
    adversarial case for id orientation (the hub keeps both in- and
    out-oriented edges, so id-oriented wedge fan-out at the hub grows
    ~deg^2; degree orientation points every hub edge INTO it, zero
    wedges form there). Deterministic: hash-derived endpoints."""
    V = 2000 * n
    E = 20_000 * n
    hub = V // 2
    ids = spark.range(E)
    src = F.when(F.col("id") % 5 == 0, F.lit(hub)).otherwise(
        F.pmod(F.hash(F.col("id") * F.lit(2654435761)), F.lit(V))
    )
    dst = F.pmod(F.hash((F.col("id") + 7) * F.lit(40503)), F.lit(V))
    return ids.select(
        src.cast("long").alias("src"), dst.cast("long").alias("dst")
    )


def run_graph(spark, edges) -> dict:
    """triangle_count (degree orientation) on the hub graph.

    The wall times the wedge joins over a pre-materialized normalized
    edge set (the shared distinct is not what is measured); wedge
    counts are the path-join fan-out sum(indeg*outdeg), and
    max_node_wedges is the single hottest node's contribution — the
    partition that would melt on a power-law graph without the degree
    order."""
    from fhc_rco_etl_scalable_spark.operators.graph import (
        orient_edges,
        triangle_count,
        undirected_simple_edges,
    )
    from fhc_rco_etl_scalable_spark.session import release_checkpoint

    und = undirected_simple_edges(edges, "src", "dst").localCheckpoint()
    res: dict = {"edges": und.count()}
    t0 = time.time()
    row = triangle_count(und, "a", "b").first()
    res["wall"] = round(time.time() - t0, 2)
    res["triangles"] = int(row["n_triangles"])
    e = orient_edges(und)
    o = e.groupBy(F.col("a").alias("y")).agg(F.count(F.lit(1)).alias("od"))
    i = e.groupBy(F.col("b").alias("y")).agg(F.count(F.lit(1)).alias("ind"))
    w = o.join(i, "y").select((F.col("od") * F.col("ind")).alias("w"))
    wrow = w.agg(F.sum("w").alias("s"), F.max("w").alias("m")).first()
    res["wedges"] = int(wrow["s"] or 0)
    res["max_node_wedges"] = int(wrow["m"] or 0)
    release_checkpoint(und)
    return res


def run_ngram(spark, docs) -> dict:
    """bigram LM + DSIR on suffix-replicated docs (disjoint doc ids,
    near-identical vocabulary — a bigger crawl of the same language,
    VERDICT r8 #4). Claims under test: wall grows ~linearly (the
    corpus side pays one explode + broadcast joins + a per-doc
    aggregate, never a corpus-keyed pre-aggregation shuffle), and the
    broadcast MODEL stays bounded — vocabulary saturates and
    min_bigram_count prunes the tail, so model rows must stay ~O(1)
    while the corpus grows O(n). DSIR's bucket table is <= n_buckets
    rows by construction; the probe records it to prove the cap is
    honored, not assumed."""
    from fhc_rco_etl_scalable_spark.operators.lm import (
        _bigrams,
        _tokens,
        bigram_logprob_score,
        dsir_logratio_score,
    )

    scored = bigram_logprob_score(docs).count()
    # Model accounting — the same definitions the scorer aggregates
    # (train slice doc_id%10==0; bigrams pruned at count>=2).
    train = docs.filter(F.col("doc_id") % 10 == 0).select(
        _tokens(F.col("text")).alias("toks")
    )
    uni_rows = train.select(F.explode("toks").alias("w")).distinct().count()
    bi_rows = (
        train.select(F.explode(_bigrams(F.col("toks"))).alias("p"))
        .groupBy("p.w1", "p.w2")
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    dsir_rows = (
        dsir_logratio_score(docs, target=F.col("doc_id") % 3 == 0)
        .count()
    )
    return {
        "scored_docs": scored,
        "dsir_scored_docs": dsir_rows,
        "model_unigrams": uni_rows,
        "model_bigrams_pruned": bi_rows,
        "dsir_bucket_cap": 1024,
    }


def run_bpe(spark, docs) -> dict:
    """BPE corpus pass (word_type_counts) on suffix-replicated docs.
    Claim: the driver-side merge-loop input stays bounded — word TYPES
    saturate as the corpus replicates (only the per-replica shard
    token adds new types), and the min_count/max_word_types caps bound
    the table regardless, so the driver loop's input must stay ~O(1)
    while corpus tokens grow O(n)."""
    from fhc_rco_etl_scalable_spark.operators.bpe import word_type_counts

    wt = word_type_counts(docs.select("doc_id", "text"))
    n_types = wt.count()
    total_tokens = docs.select(
        F.sum(
            F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""))
        ).alias("n")
    ).first()["n"]
    return {
        "word_types_driver_table": n_types,
        "corpus_tokens": int(total_tokens),
        "max_word_types_cap": 50_000,
    }


def run_gapfill(spark, ev) -> dict[str, int]:
    """gapfill (daily buckets, per-user) on replicated users. The
    claim under test: grid rows grow ~N (disjoint replica users add
    grid rows proportionally), gap rows stay a constant FRACTION
    (replicas preserve each user's observation pattern), and wall
    grows ~linearly — the grid generation is sequence+explode over the
    pre-aggregated frame, so nothing scales with raw rows except the
    first aggregate."""
    from fhc_rco_etl_scalable_spark.operators.timeseries import gapfill

    out = gapfill(
        ev,
        keys=["user_id"],
        ts_col="ts",
        bucket_seconds=86_400,
        agg=F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("value"),
            6,
        ),
        value_name="v",
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("grid_rows"),
        F.sum(F.col("v").isNull().cast("long")).alias("gap_rows"),
    ).first()
    return {"grid_rows": int(agg["grid_rows"]), "gap_rows": int(agg["gap_rows"])}


def run_lttb(spark, ev) -> dict[str, int]:
    """lttb_downsample (12 points/user) on replicated users. The claim
    under test: output rows grow exactly N-fold (12 per key), the
    bucket-average/anchor frames stay n_out rows per key, and wall
    grows ~linearly — nothing in the plan is quadratic in points or
    keys."""
    from fhc_rco_etl_scalable_spark.operators.timeseries import lttb_downsample

    out = lttb_downsample(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        id_col="event_id", n_out=12,
    )
    return {"points": out.count()}


def run_ewma(spark, ev) -> dict[str, int]:
    """ewma (the Arrow applyInPandas fold, alpha 1/2) on replicated
    users: one key-partitioned exchange, then a sequential fold per
    key inside the Python worker, so wall should grow ~linearly with
    rows while the per-key series length stays fixed (replicas add
    users, not events per user)."""
    from fhc_rco_etl_scalable_spark.operators.timeseries import ewma

    out = ewma(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        id_col="event_id", alpha=0.5,
    )
    return {"rows": out.count()}


def run_sliding(spark, ev) -> dict[str, int]:
    """sliding_distinct (trailing 7d uniques) on replicated users:
    the membership explode is a fixed 7x row fan-out feeding ONE
    countDistinct aggregate (two-phase: partial dedup map-side), so
    wall should grow ~linearly with rows and the output row count is
    windows x 1 (constant in replicas — replicas add USERS to the
    same day span, not days)."""
    from fhc_rco_etl_scalable_spark.operators.aggregate import sliding_distinct

    out = sliding_distinct(ev, "ts", "user_id", size_days=7, slide_days=1)
    row = out.agg(
        F.count(F.lit(1)).alias("windows"), F.sum("n_distinct").alias("total")
    ).first()
    return {"windows": int(row["windows"]), "total_uniques": int(row["total"])}


def run_negsample(spark, docs) -> dict[str, int]:
    """negative_sample on suffix-replicated docs (disjoint ids):
    the dense index is two key-partitioned passes + a broadcast of
    `buckets` offsets, the draw is map-side arithmetic, the final
    equi-join shuffles k*n rows on the index — everything linear in
    n; pairs must be exactly k x docs and self-draws zero."""
    from fhc_rco_etl_scalable_spark.operators.dedup import negative_sample

    out = negative_sample(docs, "doc_id", k=4)
    row = out.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.sum((F.col("neg_id") == F.col("doc_id")).cast("long")).alias("selfs"),
    ).first()
    return {"pairs": int(row["pairs"]), "self_draws": int(row["selfs"])}


def run_kcore_rounds(spark, li) -> dict[str, int]:
    """Rounds-to-convergence vs k on the harness's composed graph
    (VERDICT r10 #3's probe): the mod-997 family peels fully at
    k=13 (long cascade), survives untouched at k<=12, and the K30
    family is indestructible below 30 — so the cascade length is a
    step function of k and the count-action cost of kcore_converged
    is exactly `rounds` extra jobs."""
    from fhc_rco_etl_scalable_spark.operators.graph import kcore_converged

    fam_a = li.select(
        (F.col("l_orderkey") % 997).alias("src"),
        ((F.col("l_orderkey") * 31 + F.col("l_linenumber") * 7) % 997).alias("dst"),
    )
    fam_b = li.select(
        (10000 + F.col("l_orderkey") % 30).alias("src"),
        (10000 + F.expr("l_orderkey div 30") % 30).alias("dst"),
    )
    edges = fam_a.unionByName(fam_b)
    out = {}
    for k in (12, 13, 14, 29):
        surv, rounds = kcore_converged(edges, "src", "dst", k=k, max_rounds=40)
        out[f"k{k}_rounds"] = rounds
        out[f"k{k}_nodes"] = surv.count()
    return out


def run_lpa_rounds(spark, _unused) -> dict[str, int]:
    """Convergence rounds vs graph DIAMETER for
    label_propagation_converged (r12): two K10 cliques joined by a
    path of L edges. The docstring's claim is O(diameter) rounds on
    community-shaped graphs — min labels creep along the bridge one
    hop per round, so rounds should grow ~linearly in L while the
    community count stays 2. Also pins the per-round cost model: each
    extra round is one propagation join + one count action."""
    from fhc_rco_etl_scalable_spark.operators.graph import (
        label_propagation_converged,
    )

    out: dict[str, int] = {}
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for L in (2, 4, 8, 16):
            k10a = [(a, b) for a in range(10) for b in range(10) if a < b]
            k10b = [
                (100 + a, 100 + b) for a in range(10) for b in range(10) if a < b
            ]
            path = [(200 + i, 201 + i) for i in range(L)]
            bridge = [(0, 200), (100, 200 + L)]
            edges = spark.createDataFrame(
                k10a + k10b + path + bridge, "src long, dst long"
            )
            t0 = time.time()
            labels, rounds = label_propagation_converged(
                edges, "src", "dst", max_rounds=60
            )
            comms = labels.select("label").distinct().count()
            out[f"L{L}_rounds"] = rounds
            out[f"L{L}_communities"] = comms
            out[f"L{L}_wall"] = round(time.time() - t0, 2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    return out


def run_lpa_scale(spark, mult: int) -> dict:
    """label_propagation_converged at DATA scale (VERDICT r12 #5): a
    ring of ``mult*500`` K10 cliques joined by single bridge edges —
    ~46 edges per clique, so mult=4 is ~92k edges / 20k nodes. The
    community structure keeps convergence O(1) (every clique's
    majority is internal: labels settle in ~3 changing rounds + 1
    confirming regardless of ring length), so the probe isolates the
    DATA-proportional cost: each round is one propagation join + one
    (node,label) count + one count action over frames that grow
    linearly with the graph. Communities found must equal the clique
    count — a full correctness check at every size, not just wall.

    The edge frame is built DISTRIBUTED (spark.range cross-join a
    45-row literal pair table), not driver-side lists — the shape a
    lake-resident edge table has."""
    from fhc_rco_etl_scalable_spark.operators.graph import (
        label_propagation_converged,
    )

    cliques = mult * 500
    pairs = spark.createDataFrame(
        [(a, b) for a in range(10) for b in range(10) if a < b],
        "pa long, pb long",
    )
    intra = spark.range(cliques).crossJoin(F.broadcast(pairs)).select(
        (F.col("id") * 10 + F.col("pa")).alias("src"),
        (F.col("id") * 10 + F.col("pb")).alias("dst"),
    )
    bridges = spark.range(cliques).select(
        (F.col("id") * 10).alias("src"),
        (((F.col("id") + 1) % cliques) * 10 + 1).alias("dst"),
    )
    edges = intra.unionByName(bridges)
    n_edges = edges.count()
    t0 = time.time()
    labels, rounds = label_propagation_converged(
        edges, "src", "dst", max_rounds=20
    )
    comms = labels.select("label").distinct().count()
    return {
        "cliques": cliques,
        "edges": n_edges,
        "rounds": rounds,
        "communities": comms,
        "communities_ok": comms == cliques,
        "wall": round(time.time() - t0, 2),
    }


def run_pivot(spark, ev) -> dict:
    """pivot_wide's one-exchange claim, MEASURED against the API pivot
    on the same N-fold-replicated events (r13): both reshape per-user
    value totals wide by event type with the same explicit category
    list; the API form plans TWO key-partitioned exchanges (partial by
    (group, cat), PivotFirst by group), the conditional-sum rewrite
    ONE. The saved exchange is fact-table-sized, so the gap should
    WIDEN with N. Row counts asserted per run; value equality is
    covered by the pivot oracle entries (ADVICE r13)."""
    from fhc_rco_etl_scalable_spark.operators.aggregate import pivot_wide

    cats = ["view", "purchase", "click", "error"]
    evd = ev.withColumn("__val", F.col("value").cast("decimal(18,4)"))

    t0 = time.time()
    api = (
        evd.groupBy("user_id")
        .pivot("event_type", cats)
        .agg(F.sum("__val"))
    )
    n_api = api.count()
    t_api = time.time() - t0

    t0 = time.time()
    wide = pivot_wide(evd, ["user_id"], "event_type", cats, "__val", agg="sum")
    n_wide = wide.count()
    t_wide = time.time() - t0

    # spot-check equality (sorted sample hash over the whole frame
    # would re-pay both pivots; counts + a total suffice as the probe's
    # guard — full value equality is the oracle entry's job)
    assert n_api == n_wide
    return {
        "groups": n_wide,
        "api_pivot_wall": round(t_api, 2),
        "pivot_wide_wall": round(t_wide, 2),
        "speedup": round(t_api / t_wide, 2) if t_wide else None,
    }


def dense_events(spark, mult: int):
    """VERDICT r10 #4's fixture: dense telemetry at ~100 events per
    user per day (200*mult users x 30 days x 100 events) — the regime
    where the r11 day-level pre-dedup pays: the membership explode
    fans out day-uniques*7 instead of events*7."""
    users, days, per = 200 * mult, 30, 100
    n = users * days * per
    return spark.range(n).select(
        (F.col("id") % users).alias("user_id"),
        F.expr(
            f"timestamp'2024-01-01 00:00:00'"
            f" + ((id div {users * per}) % {days}) * INTERVAL 1 DAY"
            f" + (id % {per}) * INTERVAL 401 SECOND"
        ).alias("ts"),
    )


def run_sliding_dense(spark, ev) -> dict[str, int]:
    """The pre-dedup win, measured head-to-head on the dense fixture:
    the shipped operator (day-level dropDuplicates before the
    membership explode) vs the r10 raw-explode shape. Exploded-row
    counts are exact plan facts (events*7 vs day-uniques*7); walls
    are both reported — the dedup pays one narrow (key, day) exchange
    to cut explode+partial-agg CPU ~100x here."""
    import time as _t

    from fhc_rco_etl_scalable_spark.operators.aggregate import sliding_distinct

    rows = ev.count()
    t0 = _t.time()
    new = sliding_distinct(ev, "ts", "user_id", size_days=7, slide_days=1)
    n_windows = new.count()
    t_new = _t.time() - t0
    # the r10 shape: explode every raw event's membership directly.
    t0 = _t.time()
    raw = (
        ev.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__k"),
            F.date_trunc("day", F.col("ts")).alias("__d"),
        )
        .select(
            "user_id",
            (F.col("__d") - F.col("__k") * F.expr("INTERVAL 1 DAYS"))
            .cast("date")
            .alias("window_start"),
        )
        .groupBy("window_start")
        .agg(F.countDistinct("user_id").alias("n_distinct"))
    )
    assert raw.count() == n_windows
    t_raw = _t.time() - t0
    uniques = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("__d")
    ).distinct().count()
    return {
        "events": rows,
        "exploded_raw": rows * 7,
        "exploded_dedup": uniques * 7,
        "wall_dedup_ms": int(t_new * 1000),
        "wall_raw_ms": int(t_raw * 1000),
    }


def run_incdedup(spark, hist, sf_dir: str) -> dict:
    """The persisted-index claim, MEASURED: dedup a FIXED batch
    against an N-fold-grown history two ways — (a) incremental,
    against history's PRE-BUILT parquet band index (what the index
    exists for: the timed path hashes only the batch and joins the
    stored bands), and (b) full recompute, minhash-banding
    history+batch from raw text (what you'd do without an index).
    (b) re-minhashes history and must grow ~linearly with N; (a) pays
    only the batch hash + the band-keyed join probe. The timed
    incremental path includes NO index build — that's the once-per-
    ingest cost the probe stages untimed, exactly like production.
    Row counts of both paths' duplicate sets are asserted equal (the
    pair semantics differ only in presentation: (a) min-id per batch
    doc, (b) raw pairs — compare the CONTAMINATED-batch-id set)."""
    import shutil
    import tempfile

    from fhc_rco_etl_scalable_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_bands,
        minhash_lsh_candidates,
    )
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    # batch = the base documents shifted into a fresh id space, text
    # UNsalted — so every batch doc near-dups its replica-0 history
    # twin and the dup set is non-trivial at every N.
    batch = load_table(spark, "documents", sf_dir).select(
        (F.col("doc_id") + F.lit(900_000_000_000)).alias("doc_id"), "text"
    )
    tmp = tempfile.mkdtemp(prefix="incded_probe_")
    try:
        # untimed: the once-per-ingest index build + both inputs to
        # parquet (a real deployment reads files, not a 2N-branch
        # union plan)
        hist_path, batch_path, idx_path = (
            f"{tmp}/hist", f"{tmp}/batch", f"{tmp}/idx",
        )
        hist.select("doc_id", "text").write.parquet(hist_path)
        batch.write.parquet(batch_path)
        hist_d = spark.read.parquet(hist_path)
        batch_d = spark.read.parquet(batch_path)
        minhash_bands(hist_d, "doc_id", "text", materialize=False).write.parquet(
            idx_path
        )

        # min-of-2 per path, interleaved (inc/full/inc/full): the
        # first execution of either pipeline pays minhash codegen/JIT,
        # and single samples swing with co-tenant bursts.
        def run_inc() -> int:
            annotated, _ = incremental_minhash_dedup(
                batch_d, spark.read.parquet(idx_path), "doc_id", "text"
            )
            return annotated.filter(~F.col("is_new")).count()

        def run_full() -> int:
            pairs = minhash_lsh_candidates(
                hist_d.unionByName(batch_d.select("doc_id", "text")),
                "doc_id", "text",
            )
            return (
                pairs.filter(F.col("id_b") >= 900_000_000_000)
                .select("id_b")
                .distinct()
                .count()
            )

        t_inc = t_full = float("inf")
        inc_dups = full_dups = -1
        for _ in range(2):
            t0 = time.time()
            inc_dups = run_inc()
            t_inc = min(t_inc, time.time() - t0)
            t0 = time.time()
            full_dups = run_full()
            t_full = min(t_full, time.time() - t0)
        return {
            "inc_sec": round(t_inc, 2),
            "full_sec": round(t_full, 2),
            "speedup": round(t_full / max(t_inc, 1e-9), 2),
            "dups_inc": inc_dups,
            "dups_full": full_dups,
            "dups_equal": inc_dups == full_dups,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


RUNNERS = {
    "site": lambda spark, data, sf_dir: run_pipeline(spark, data),
    "minhash": lambda spark, data, sf_dir: run_minhash(spark, data),
    "corpus": lambda spark, data, sf_dir: run_corpus_prep(spark, data),
    "span": lambda spark, data, sf_dir: run_span(spark, data),
    "margin": run_margin,
    "fuzzy": run_fuzzy,
    "funnel": lambda spark, data, sf_dir: run_funnel(spark, data),
    "semdedup": lambda spark, data, sf_dir: run_semdedup(spark, data),
    "ngram": lambda spark, data, sf_dir: run_ngram(spark, data),
    "bpe": lambda spark, data, sf_dir: run_bpe(spark, data),
    "substr": lambda spark, data, sf_dir: run_substr(spark, data),
    "substr_skew": lambda spark, data, sf_dir: run_substr_skew(spark, data),
    "graph": lambda spark, data, sf_dir: run_graph(spark, data),
    "sliding": lambda spark, data, sf_dir: run_sliding(spark, data),
    "sliding_dense": lambda spark, data, sf_dir: run_sliding_dense(spark, data),
    "kcore": lambda spark, data, sf_dir: run_kcore_rounds(spark, data),
    "lpa": lambda spark, data, sf_dir: run_lpa_rounds(spark, data),
    "lpa_scale": lambda spark, data, sf_dir: run_lpa_scale(spark, data),
    "pivot": lambda spark, data, sf_dir: run_pivot(spark, data),
    "negsample": lambda spark, data, sf_dir: run_negsample(spark, data),
    "incdedup": run_incdedup,
    "gapfill": lambda spark, data, sf_dir: run_gapfill(spark, data),
    "lttb": lambda spark, data, sf_dir: run_lttb(spark, data),
    "ewma": lambda spark, data, sf_dir: run_ewma(spark, data),
}


def main() -> None:
    from fhc_rco_etl_scalable_spark.session import get_spark

    argv = sys.argv[1:]
    probe = "site"
    base_mult = 1
    materialize = False
    while argv and argv[0].startswith("--"):
        if argv[0] == "--probe":
            probe = argv[1]
            argv = argv[2:]
        elif argv[0] == "--base":
            base_mult = int(argv[1])
            argv = argv[2:]
        elif argv[0] == "--materialize":
            materialize = True
            argv = argv[1:]
        else:
            raise SystemExit(f"unknown flag {argv[0]}")
    sf_dir = argv[0] if argv and not argv[0].isdigit() else "/root/testdata/sf0.1"
    ns = [int(a) for a in argv if a.isdigit()] or [1, 2, 4, 8]

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().collect()

    results = []
    for n in ns:
        eff = n * base_mult
        if probe == "site":
            data = scaled_events(spark, sf_dir, eff)
        elif probe == "minhash":
            data = scaled_documents(spark, sf_dir, eff, mode="cipher")
        elif probe == "corpus":
            data = scaled_documents(spark, sf_dir, eff, mode="suffix")
        elif probe == "span":
            # cipher salting: spans become disjoint across replicas, so
            # kept spans scale ~N (independent-shard growth), while
            # within-replica duplicate structure is preserved exactly.
            data = scaled_documents(spark, sf_dir, eff, mode="cipher")
        elif probe == "margin":
            data = scaled_embeddings_x(spark, sf_dir, eff)
        elif probe == "fuzzy":
            data = skewed_names(spark, eff)
        elif probe in ("funnel", "gapfill", "lttb", "ewma", "sliding", "pivot"):
            data = scaled_events(spark, sf_dir, eff)
        elif probe == "sliding_dense":
            # synthetic 100-events/user/day fixture; sf_dir unused.
            data = dense_events(spark, eff)
        elif probe == "kcore":
            # rounds-vs-k on the harness graph; the replica axis is
            # unused (run with a single N, e.g. `--probe kcore 1`).
            data = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        elif probe == "lpa":
            # rounds-vs-diameter on synthetic bridged cliques; the
            # replica axis and sf_dir are unused (`--probe lpa 1`).
            data = None
        elif probe == "lpa_scale":
            # clique-ring at data scale; data = the multiplier itself
            # (the runner builds the edge frame distributed).
            data = eff
        elif probe == "semdedup":
            data = scaled_embeddings_all(spark, sf_dir, eff)
        elif probe == "negsample":
            # suffix replicas: disjoint doc ids, n grows N-fold.
            data = scaled_documents(spark, sf_dir, eff, mode="suffix")
        elif probe == "incdedup":
            # cipher replicas = the N-fold-grown HISTORY (replica 0
            # unsalted so the probe's fixed batch has real dups);
            # the runner stages its own parquet, no --materialize.
            data = scaled_documents(spark, sf_dir, eff, mode="cipher")
        elif probe in ("ngram", "bpe"):
            # suffix mode: disjoint doc ids, near-identical vocabulary
            # — the growth axis where a broadcast model must saturate.
            data = scaled_documents(spark, sf_dir, eff, mode="suffix")
        elif probe == "substr":
            # cipher mode: replicas share no grams, so duplicated-gram
            # space grows ~N (independent shards), never quadratically.
            data = scaled_documents(spark, sf_dir, eff, mode="cipher")
        elif probe == "substr_skew":
            # cipher replicas + ONE shared boilerplate in 30% of docs:
            # the hot-gram axis (occurrences of the top gram grow ~N).
            data = boilerplate_documents(spark, sf_dir, eff)
        elif probe == "graph":
            # synthetic hub graph; sf_dir unused (size is n-derived).
            data = hub_edges(spark, eff)
        else:
            raise SystemExit(f"unknown probe {probe}")
        if materialize:
            # Write the replicated input to parquet and time the probe
            # reading from disk: a union of `eff` scan branches is a
            # plan-size artifact of the replication trick (80 branches
            # provoke driver GC storms), not part of the measured
            # workload, and a real 100 TB input arrives as files.
            import shutil
            import tempfile

            tmp = tempfile.mkdtemp(prefix=f"scale_probe_{probe}_")
            try:
                path = f"{tmp}/input.parquet"
                data.write.mode("overwrite").parquet(path)
                data = spark.read.parquet(path)
                t0 = time.time()
                counts = RUNNERS[probe](spark, data, sf_dir)
                dt = time.time() - t0
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        else:
            t0 = time.time()
            counts = RUNNERS[probe](spark, data, sf_dir)
            dt = time.time() - t0
        results.append({"n": n, "replicas": eff, "wall_sec": round(dt, 2), "rows": counts})
        print(
            f"# {probe} N={n} (x{eff}): {dt:.2f}s  "
            + " ".join(f"{k}={v}" for k, v in counts.items()),
            file=sys.stderr,
        )
    base = results[0]["wall_sec"]
    for r in results:
        r["speedup_vs_linear"] = round(
            (base * r["n"]) / r["wall_sec"], 2
        )  # >1 = better than linear
    print(
        json.dumps(
            {
                "metric": f"{probe}_scale_probe",
                "sf_dir": sf_dir,
                "base_mult": base_mult,
                "materialized": materialize,
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
