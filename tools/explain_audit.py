"""Physical-plan audit: assert the properties that matter at 100 TB.

For each audited query: does the parquet scan prune columns
(ReadSchema), do filters push down (PushedFilters), do dim joins
broadcast (BroadcastHashJoin), and is the plan inside whole-stage
codegen. Prints PASS/WARN per property; exit 1 on hard failures.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def n_shuffles(p: str, keys: str = "") -> int:
    """Count hash-partitioned Exchange nodes in a FORMATTED plan,
    optionally anchored on the leading partition key.

    r11 (ADVICE r10 vacuity class): the old ``Exchange
    hashpartitioning`` regex matched only the simple-mode rendering
    and NEVER matched formatted output — every shuffle-count check
    passed vacuously at 0. Formatted mode renders an exchange as
    ``(n) Exchange`` with a separate ``Arguments:
    hashpartitioning(...)`` line, exactly once per exchange node.
    """
    return len(re.findall(r"Arguments: hashpartitioning\(" + keys, p))


def main() -> int:
    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.plans import harness_queries as hq
    from fhc_rco_etl_scalable_spark.session import get_spark
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    failures = []

    def check(name: str, cond: bool, hard: bool = True, detail: str = ""):
        tag = "PASS" if cond else ("FAIL" if hard else "WARN")
        print(f"{tag} {name} {detail}")
        if not cond and hard:
            failures.append(name)

    # 1. Column pruning: a 2-column projection must not read all columns.
    pruned = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    p = plan_of(pruned)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    ncols = len(m.group(1).split(",")) if m else 99
    check("column_pruning(lineitem 2-col)", ncols == 2, detail=f"read {ncols} cols")

    # 2. Predicate pushdown to the parquet scan.
    filtered = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") == 42)
    p = plan_of(filtered)
    check(
        "filter_pushdown(orders)",
        "PushedFilters: [" in p and "o_custkey" in p.split("PushedFilters:")[1][:200],
    )

    # 3. Dim join broadcasts.
    p = plan_of(hq.q_dim_join_chain(spark, sf_dir))
    check("broadcast(dim_join_chain)", "BroadcastHashJoin" in p)

    # 4. Sessionization: exactly ONE exchange feeds the window chain
    #    (lag + cumsum + session agg share the user_id partitioning).
    p = plan_of(hq.q_co_sessionize(spark, sf_dir))
    n_exchanges = p.count("Exchange")
    check(
        "single_shuffle(co_sessionize)",
        n_exchanges <= 2,  # hashpartitioning + AQE final coalesce
        detail=f"{n_exchanges} exchanges",
    )
    # Window execs never enter whole-stage codegen (Spark architecture);
    # assert the agg path instead: map-side partial aggregation before
    # the shuffle (the property that matters at scale), and codegen
    # stages in the post-execution final plan.
    agg_df = hq.q_runtime_per_day(spark, sf_dir)
    pre = agg_df._jdf.queryExecution().executedPlan().toString()
    check("partial_agg(runtime_per_day)", "partial_sum" in pre)
    # r13: the old form ran agg_df.count() — a DIFFERENT QueryExecution
    # — so THIS plan never finalized (isFinalPlan=false) and the check
    # soft-WARNed every round on a plan that is fully codegen'd.
    # collect() executes this exact plan; the finalized AQE string
    # marks codegen stages with the compact `*(n)` prefix rather than
    # the literal 'WholeStageCodegen', so accept either spelling.
    agg_df.collect()  # materialize THIS plan so AQE finalizes it
    post = agg_df._jdf.queryExecution().executedPlan().toString()
    check(
        "codegen(runtime_per_day)",
        # ADVICE r13: match ANY codegen stage id, not the literal
        # '*(1)' — a finalized AQE plan whose stage ids start above 1
        # is still fully codegen'd.
        "WholeStageCodegen" in post or re.search(r"\*\(\d+\)", post) is not None,
        detail="finalized AQE plan shows codegen stage markers",
    )

    # 5. As-of union trick: one exchange, no join at all.
    p = plan_of(hq.q_asof_backward(spark, sf_dir))
    check("no_join(asof_backward)", "Join" not in p, detail="union+window form")

    # 6. Interval join keeps an equi component (no pure cartesian).
    p = plan_of(hq.q_interval_overlap(spark, sf_dir))
    check("no_cartesian(interval_overlap)", "CartesianProduct" not in p)

    # 7. Brute-force topk: corpus side not exchanged, query side broadcast.
    p = plan_of(hq.q_embedding_topk(spark, sf_dir))
    check("broadcast(embedding_topk queries)", "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p)

    # 8. Compute-dense dedup ops pin an explicit N-way hash repartition
    #    (skew.spread): single-file scans arrive as one partition and an
    #    un-numbered repartition would be AQE-coalesced right back.
    from fhc_rco_etl_scalable_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "lb", F.expr("n_chars div 100")
    )
    # materialize=False: the production path hides the exchange behind
    # its localCheckpoint barrier; audit the raw plan.
    for qname, df in [
        (
            "ngram_jaccard",
            jaccard_pairs(
                docs, "doc_id", "text", block_cols=["lang", "lb"],
                threshold=0.2, materialize=False,
            ),
        ),
        ("minhash_lsh", hq.q_minhash_lsh(spark, sf_dir)),
    ]:
        p = plan_of(df)
        # the pinned exchange is visible directly, OR the plan reads a
        # checkpoint barrier (ExistingRDD, zero parquet scans) whose
        # hidden lineage carries it — the barrier implies the banding
        # self-join executes the gram build once.
        pinned = (
            re.search(r"hashpartitioning\(doc_id[^)]*, \d+\), REPARTITION_BY_NUM", p)
            is not None
        )
        behind_barrier = "ExistingRDD" in p and "Scan parquet" not in p
        check(f"pinned_spread({qname})", pinned or behind_barrier)

    # 9. Bucketed-left interval join: the materialization barriers must
    #    keep sessionization single-execution — the FINAL plan reads the
    #    checkpointed RDDs, never the parquet scan multiple times.
    p = plan_of(hq.q_interval_overlap_bucketed(spark, sf_dir))
    n_scans = p.count("Scan parquet")
    check(
        "barrier(interval_overlap_bucketed)",
        n_scans == 0,
        detail=f"{n_scans} parquet scans in final plan (lineage behind barriers)",
    )

    # 10. Near-dup verification stays a bare dot product: the unit
    #     normalization must happen below the pair join (one sqrt per
    #     ROW, not per pair).
    p = plan_of(hq.q_embedding_near_dups(spark, sf_dir))
    n_sqrt = p.count("SQRT")
    check(
        "row_side_normalize(embedding_near_dups)",
        0 < n_sqrt <= 4,
        detail=f"{n_sqrt} sqrt sites",
    )

    # 11. corpus_prep reads documents exactly ONCE: stats + lang +
    #     quality + dedup fingerprint share a single pass (the text
    #     column is the whole cost at 100 TB).
    p = plan_of(hq.q_corpus_prep(spark, sf_dir))
    # count plan NODES (the "(n) Scan parquet" detail headers), not raw
    # text occurrences — the tree header repeats each node's name.
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))
    check(
        "single_scan(corpus_prep)",
        n_scans == 1,
        detail=f"{n_scans} parquet scan nodes",
    )

    # 12. TPC-H-shaped joins: dims broadcast (no shuffle for the dim
    #     chain), date/segment filters reach the parquet scans, and the
    #     only sort-merge/shuffle join is fact-fact on orderkey.
    p = plan_of(hq.q_tpch_shipping_priority(spark, sf_dir))
    check("broadcast(tpch_q3 customer)", "BroadcastHashJoin" in p)
    check(
        "filter_pushdown(tpch_q3 scans)",
        "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p
        or "EqualTo(c_mktsegment,BUILDING)" in p,
    )
    p = plan_of(hq.q_tpch_local_supplier_volume(spark, sf_dir))
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M))
    check(
        "broadcast(tpch_q5 dim chain)",
        n_bhj >= 3,
        detail=f"{n_bhj} broadcast joins (supplier+nation+region)",
    )

    # 13. Round-5 map-side claims: chunking, winnowing and the simhash
    #     fold must plan with ZERO exchanges (pure per-row functions;
    #     the only allowed exchange is skew.spread's pinned repartition).
    for qname, fn, allowed in [
        ("chunk_documents", hq.q_chunk_documents, 0),      # no spread: ZERO
        ("winnow_fingerprints", hq.q_winnow_fingerprints, 1),  # spread's pin
        ("simhash_dups", hq.q_simhash_dups, 1),                # spread's pin
    ]:
        p = plan_of(fn(spark, sf_dir))
        n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
        check(f"map_side({qname})", n_ex <= allowed, detail=f"{n_ex} exchanges")

    # 14. Time-range window: ONE exchange feeds the frame scan.
    p = plan_of(hq.q_sliding_time_window(spark, sf_dir))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    check("single_shuffle(sliding_time_window)", n_ex == 1, detail=f"{n_ex} exchanges")

    # 15. Round-6 operators. Decontamination: the benchmark gram table
    #     must broadcast (eval sets are small by definition) and the
    #     plan must never go cartesian.
    p = plan_of(hq.q_decontaminate(spark, sf_dir))
    check("broadcast(decontaminate bench grams)", "BroadcastHashJoin" in p)
    check("no_cartesian(decontaminate)", "CartesianProduct" not in p)

    # 16. BM25: top-k plans as an ordered limit (TakeOrdered), not a
    #     global sort materialization; df/corpus scalars broadcast.
    p = plan_of(hq.q_bm25_search(spark, sf_dir))
    check("ordered_limit(bm25_search)", "TakeOrderedAndProject" in p)
    check("broadcast(bm25 df/corpus)", "BroadcastExchange" in p)

    # 17. Repetition signals: per-doc counters are local facts — the
    #     whole plan must be exchange-free.
    p = plan_of(hq.q_repetition_signals(spark, sf_dir))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    check("map_side(repetition_signals)", n_ex == 0, detail=f"{n_ex} exchanges")

    # 18. Z-order default path: distributed bucketing, no Window / no
    #     single-partition exchange (VERDICT r5 #4 closed).
    from fhc_rco_etl_scalable_spark.sinks.layout import zorder_key

    zdf = zorder_key(
        load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity"),
        ["l_orderkey", "l_quantity"],
        bits_per_col=8,
    )
    p = plan_of(zdf)
    check("no_global_sort(zorder_key)", "Window" not in p and "Exchange SinglePartition" not in p)

    # 19. TPC-H Q7/Q8: every dimension broadcasts; the only sort-merge
    #     join allowed is the lineitem->orders fact join.
    for qname in ("q_tpch_volume_shipping", "q_tpch_market_share"):
        p = plan_of(getattr(hq, qname)(spark, sf_dir))
        n_smj = len(re.findall(r"SortMergeJoin", p))
        check(f"broadcast_dims({qname})", "BroadcastHashJoin" in p)
        check(
            f"one_fact_join({qname})",
            n_smj <= 1,
            detail=f"{n_smj} sort-merge joins",
        )

    # 20. TPC-H Q21: the EXISTS/NOT-EXISTS pair must not plan as a
    #     cartesian or positional fact self-join — the per-order bound
    #     derivation keeps everything on the orderkey partitioning.
    p = plan_of(hq.q_tpch_waiting_supplier(spark, sf_dir))
    check("no_cartesian(tpch_waiting_supplier)", "CartesianProduct" not in p)
    check("broadcast(tpch_waiting_supplier supplier)", "BroadcastHashJoin" in p)
    check(
        "ordered_limit(tpch_waiting_supplier)", "TakeOrderedAndProject" in p
    )

    # 20b. Margin pair mining: pair scoring is ONE Arrow-batched numpy
    #      matmul (MapInPandas) — never a join of both sides — and the
    #      windows alternate sides only once (4 pair-frame exchanges:
    #      x-rank+sum, y-rank+sum, x-best, y-best).
    p = plan_of(hq.q_margin_pairs(spark, sf_dir))
    check("arrow_matmul(margin_pairs)", "MapInPandas" in p)
    check("no_join(margin_pairs)", "SortMergeJoin" not in p and "Cartesian" not in p)
    n_ex = n_shuffles(p)
    check("window_exchanges(margin_pairs)", n_ex <= 4, detail=f"{n_ex} exchanges")

    # 21. Domain mixture: the fact-side selection join must broadcast
    #     (the rate table is one row per domain) — never sort-merge.
    p = plan_of(hq.q_domain_mixture(spark, sf_dir))
    check("broadcast(domain_mixture rates)", "BroadcastHashJoin" in p)
    check("no_smj(domain_mixture)", "SortMergeJoin" not in p)

    # 22. Round-7 TPC-H subquery family: every decorrelation must keep
    #     dims broadcast and avoid self-joins/cartesians. Q2: the
    #     correlated scalar MIN is a window over partkey (no offer
    #     self-join, zero SMJ — every join side is dim-sized or
    #     semi-pruned). Q9: at most the orderkey fact join shuffles.
    #     Q11: the global scalar broadcasts (BNLJ over one row) and the
    #     grouped relation computes once behind its barrier (no parquet
    #     scan dupes). Q16: the NOT IN is a broadcast LeftAnti. Q20:
    #     the correlated agg is a window (no ship self-join).
    p = plan_of(hq.q_tpch_min_cost_supplier(spark, sf_dir))
    check("no_self_join(tpch_q2)", "SortMergeJoin" not in p and "Cartesian" not in p)
    check("broadcast_dims(tpch_q2)", len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)) >= 4)
    p = plan_of(hq.q_tpch_product_profit(spark, sf_dir))
    check(
        "one_fact_join(tpch_q9)",
        len(re.findall(r"SortMergeJoin", p)) <= 1 and "Cartesian" not in p,
    )
    check("broadcast_dims(tpch_q9)", len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)) >= 3)
    p = plan_of(hq.q_tpch_important_stock(spark, sf_dir))
    check("scalar_broadcast(tpch_q11)", "BroadcastNestedLoopJoin" in p)
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))
    check(
        "single_pass(tpch_q11)",
        n_scans == 0,
        detail=f"{n_scans} parquet scans (v behind barrier)",
    )
    p = plan_of(hq.q_tpch_supplier_relation(spark, sf_dir))
    check("broadcast_anti(tpch_q16)", "LeftAnti" in p and "BroadcastHashJoin" in p)
    check("no_smj(tpch_q16)", "SortMergeJoin" not in p)
    p = plan_of(hq.q_tpch_excess_suppliers(spark, sf_dir))
    check("no_self_join(tpch_q20)", len(re.findall(r"SortMergeJoin", p)) <= 1 and "Cartesian" not in p)
    check("semi_chain(tpch_q20)", "LeftSemi" in p)

    # 23. API-surface entries. Unpivot must be ONE Expand pass (no
    #     Generate/union-of-scans) + the aggregate exchange; the
    #     LATERAL top-N decorrelates to WindowGroupLimit (rank
    #     pushdown) + broadcast, never a cartesian/nested-loop per
    #     outer row; the variant round-trip stays map-side until its
    #     single aggregate exchange.
    p = plan_of(hq.q_unpivot_measures(spark, sf_dir))
    check("expand(unpivot_measures)", "Expand" in p and "Generate" not in p)
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    check("single_shuffle(unpivot_measures)", n_ex <= 1, detail=f"{n_ex} exchanges")
    p = plan_of(hq.q_sql_api_lateral_topk(spark, sf_dir))
    check("rank_pushdown(sql_api_lateral_topk)", "WindowGroupLimit" in p)
    check(
        "no_cartesian(sql_api_lateral_topk)",
        "Cartesian" not in p and "BroadcastNestedLoop" not in p,
    )
    p = plan_of(hq.q_variant_extract(spark, sf_dir))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    check("map_side(variant_extract)", n_ex <= 1, detail=f"{n_ex} exchanges")
    p = plan_of(hq.q_xml_extract(spark, sf_dir))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    check("map_side(xml_extract)", n_ex <= 1, detail=f"{n_ex} exchanges")

    # 24. Product analytics: the funnel's three conditional stage-mins
    #     share ONE user_id window partitioning (no stage self-joins);
    #     cohort retention likewise derives (cohort, offset) on the
    #     user exchange and pays only distinct + rollup on top.
    p = plan_of(hq.q_funnel_conversion(spark, sf_dir))
    check("no_join(funnel_conversion)", "Join" not in p)
    n_ex = n_shuffles(p, "user_id")
    check(
        "one_user_shuffle(funnel_conversion)",
        n_ex <= 1,
        detail=f"{n_ex} user_id exchanges",
    )
    p = plan_of(hq.q_cohort_retention(spark, sf_dir))
    check("no_join(cohort_retention)", "Join" not in p)

    # 25. Recursive CTE: the spine must execute as the native UnionLoop
    #     operator (true recursion), and its join to the weekly
    #     aggregate must broadcast the 53-row spine side.
    p = plan_of(hq.q_sql_api_recursive_spine(spark, sf_dir))
    check("union_loop(sql_api_recursive_spine)", "UnionLoop" in p)
    check(
        "no_smj(sql_api_recursive_spine)",
        "SortMergeJoin" not in p and "Cartesian" not in p,
    )

    # 26. Round-8 LLM-pipeline additions. The ngram LM scorer must
    #     join the scored corpus to the model by BROADCAST only (3
    #     broadcast joins: bigram, two unigram aliases) with no SMJ —
    #     the corpus shuffles only for its final per-doc aggregate.
    #     url_dedup is canonicalization map-side + ONE aggregate
    #     exchange. semantic_dedup's pair join must be an equi-join on
    #     the cell id (hash join, no cartesian).
    p = plan_of(hq.q_ngram_perplexity(spark, sf_dir))
    n_bhj = len(re.findall(r"BroadcastHashJoin", p))
    check("broadcast_model(ngram_perplexity)", n_bhj >= 3, detail=f"{n_bhj} BHJ")
    check("no_smj(ngram_perplexity)", "SortMergeJoin" not in p)
    p = plan_of(hq.q_url_dedup(spark, sf_dir))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    check("single_shuffle(url_dedup)", n_ex <= 1, detail=f"{n_ex} exchanges")
    check("no_python(url_dedup)", "Python" not in p and "Arrow" not in p)
    p = plan_of(hq.q_semantic_dedup(spark, sf_dir))
    check(
        "no_cartesian(semantic_dedup)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )

    # 27. Late round-8 entries. RRF fusion must rank each retriever
    #     with an ordered limit (TakeOrdered — no global sort
    #     materialization) and fuse by union+aggregate with NO join at
    #     all (the outer-join formulation planned an SMJ); the
    #     INTERSECT/EXCEPT text must decorrelate to left-semi +
    #     left-anti hash joins.
    p = plan_of(hq.q_hybrid_rrf_search(spark, sf_dir))
    check("take_ordered(hybrid_rrf_search)", "TakeOrdered" in p)
    # broadcast-only joins allowed (BM25's 1-row scalar crossJoins ride
    # BroadcastNestedLoop); the fusion itself contributes a Union, and
    # nothing in the plan may sort-merge.
    check("no_smj(hybrid_rrf_search)", "SortMergeJoin" not in p)
    check("union_fusion(hybrid_rrf_search)", "Union" in p)
    p = plan_of(hq.q_sql_api_intersect_except(spark, sf_dir))
    check(
        "semi_anti(sql_api_intersect_except)",
        "LeftSemi" in p and "LeftAnti" in p,
    )
    check("no_cartesian(sql_api_intersect_except)", "Cartesian" not in p)

    # 28. Final round-8 additions: the DSIR scorer joins its model by
    #     broadcast only; exact_quantiles pays at most the group
    #     exchange plus one (rank window + aggregate share the flag
    #     partitioning); bpe_top_pairs is explode-over-word-TYPES with
    #     a single aggregate exchange.
    p = plan_of(hq.q_dsir_weights(spark, sf_dir))
    check("broadcast_model(dsir_weights)", "BroadcastHashJoin" in p)
    check("no_smj(dsir_weights)", "SortMergeJoin" not in p)
    p = plan_of(hq.q_exact_quantiles(spark, sf_dir))
    n_ex = n_shuffles(p)
    check("bounded_shuffle(exact_quantiles)", n_ex <= 2, detail=f"{n_ex} exchanges")
    check("no_join(exact_quantiles)", "Join" not in p)
    p = plan_of(hq.q_bpe_top_pairs(spark, sf_dir))
    n_ex = n_shuffles(p)
    check("single_shuffle(bpe_top_pairs)", n_ex <= 1, detail=f"{n_ex} exchanges")

    # 29. Round-9: ExactSubstr (Lee et al. 2022) must stay key-
    #     partitioned end-to-end — the dup-gram reduction and semi-
    #     join shuffle on the gram, the interval merge on the doc id;
    #     no all-pairs path may appear (a cartesian/BNLJ here means
    #     the token-index rebuild regressed to a cross product).
    p = plan_of(hq.q_substring_dedup(spark, sf_dir))
    check(
        "no_cartesian(substring_dedup)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )
    n_ex = n_shuffles(p)
    check(
        "bounded_shuffle(substring_dedup)", n_ex <= 3, detail=f"{n_ex} exchanges"
    )
    check("no_python(substring_dedup)", "Python" not in p)

    # 30. Round-9 closers. PageRank's per-iteration plan must stay
    #     key-partitioned joins over the checkpoint-truncated rank
    #     frame (no cartesian anywhere in the composed 3-iteration
    #     plan); corrupt-record handling is pure native expressions
    #     (from_json is JVM-side — a Python node here means the
    #     quarantine path regressed to a UDF).
    p = plan_of(hq.q_pagerank_centrality(spark, sf_dir))
    check(
        "no_cartesian(pagerank_centrality)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )
    p = plan_of(hq.q_corrupt_record_handling(spark, sf_dir))
    check("no_python(corrupt_record_handling)", "Python" not in p)
    check("single_scan(corrupt_record_handling)", "Join" not in p)

    # 31. Gap-fill: the dense grid must be generated JVM-side from the
    #     pre-aggregated frame (sequence+explode — no Python, no
    #     cartesian), and the whole plan pays bounded exchanges: the
    #     (key,bucket) aggregate, the (key) bounds aggregate, the
    #     grid join, and the fill window's (key) partitioning.
    p = plan_of(hq.q_gapfill_interpolate(spark, sf_dir))
    check("no_python(gapfill_interpolate)", "Python" not in p)
    check(
        "no_cartesian(gapfill_interpolate)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )
    check("grid_explode(gapfill_interpolate)", "Generate" in p and "sequence" in p)
    n_ex = n_shuffles(p)
    check(
        "bounded_shuffle(gapfill_interpolate)", n_ex <= 4, detail=f"{n_ex} exchanges"
    )

    # 32. Robust outliers: both group-stat frames (median, MAD) must
    #     broadcast back onto the event scan — the raw rows never
    #     shuffle for a join (an SMJ here means a tiny one-row-per-key
    #     frame got sort-merge treatment).
    p = plan_of(hq.q_mad_outliers(spark, sf_dir))
    check("broadcast_stats(mad_outliers)", "BroadcastHashJoin" in p)
    check("no_smj(mad_outliers)", "SortMergeJoin" not in p)

    # 33. LTTB downsampling: the anchor frame is n_out rows per key —
    #     its join back onto the points must hash-join (no cartesian),
    #     and the whole plan is native expressions.
    p = plan_of(hq.q_lttb_downsample(spark, sf_dir))
    check("no_python(lttb_downsample)", "Python" not in p)
    check(
        "no_cartesian(lttb_downsample)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )

    # 33b. Triangle count: the wedge joins are equi-joins on edge
    #     endpoints — a CartesianProduct here means the orientation
    #     predicate leaked out of the join keys. (The three 1-row
    #     aggregate crossJoins ride BroadcastNestedLoop, like BM25's
    #     scalar constants — allowed.)
    p = plan_of(hq.q_triangle_count(spark, sf_dir))
    check("no_cartesian(triangle_count)", "CartesianProduct" not in p)
    check("no_python(triangle_count)", "Python" not in p)
    p = plan_of(hq.q_bfs_reachability(spark, sf_dir))
    check(
        "no_cartesian(bfs_reachability)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )

    # 34. EWMA oracle entry: the per-key series arrays broadcast back
    #     onto the row stream (one row per key — tiny), and the fold
    #     itself is a native higher-order expression, not Python.
    p = plan_of(hq.q_ewma_smooth(spark, sf_dir))
    check("no_python(ewma_smooth)", "Python" not in p)
    check("broadcast_series(ewma_smooth)", "BroadcastHashJoin" in p)

    # 35. Bounded-global-window invariant (r9 verdict #8, hardened per
    #     ADVICE r10): a Window with NO partition spec is a total
    #     order — legal ONLY over a provably bounded input. For every
    #     entry known to carry one (global rank over a fused or
    #     aggregated candidate set), find each unpartitioned Window in
    #     the OPTIMIZED plan and assert a CARDINALITY-bounding node
    #     (GlobalLimit/Limit/Aggregate — a Filter does NOT bound
    #     cardinality in general and is no longer accepted) sits
    #     immediately beneath it. Detection parses the
    #     windowspecdefinition's TOP-LEVEL arguments (partition exprs
    #     precede sort exprs): the spec is global iff its FIRST
    #     top-level argument carries an ASC/DESC marker — argument
    #     splitting is paren-aware, so a first sort key like
    #     ``cast(x as double) ASC`` is detected (the old [^,()]* regex
    #     skipped it, letting total==bounded==0 pass vacuously; the
    #     n_gw >= 1 floor below closes that hole for known carriers).
    _spec = re.compile(r"windowspecdefinition\(")

    def _first_arg_sorted(text: str, start: int) -> bool:
        """True if the first top-level argument of the spec opening at
        ``start`` (index of the char after '(') carries ASC/DESC."""
        depth, i, a0 = 0, start, start
        while i < len(text):
            c = text[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            i += 1
        first = text[a0:i]
        return " ASC" in first or " DESC" in first

    _bounding = re.compile(r"GlobalLimit|LocalLimit|Limit \d|Aggregate")

    def global_windows_bounded(df) -> tuple[int, int]:
        """(n_global_windows, n_bounded) over the optimized plan."""
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        total = bounded = 0
        for i, line in enumerate(lines):
            if "Window [" not in line:
                continue
            if any(
                _first_arg_sorted(line, m.end()) for m in _spec.finditer(line)
            ):
                total += 1
                if any(_bounding.search(nxt) for nxt in lines[i + 1 : i + 6]):
                    bounded += 1
        return total, bounded

    # Known carriers (verified by reading each optimized plan): every
    # entry below MUST show >= 1 global window — a 0/0 result would
    # mean the detection regressed, not that the plan got safer.
    # exact_quantiles left the list in r11: both its windows partition
    # by l_returnflag (it was never a carrier; under the old vacuous
    # regex its 0/0 passed silently).
    for entry in (
        "build_vocab",
        "hybrid_rrf_search",
        "bpe_top_pairs",
        "bm25_search",
    ):
        n_gw, n_ok = global_windows_bounded(hq.QUERIES[entry](spark, sf_dir))
        check(
            f"bounded_global_window({entry})",
            n_gw >= 1 and n_gw == n_ok,
            detail=f"{n_ok}/{n_gw} global windows bounded",
        )
    # negative_sample's carrier is dense_index's bucket-offset window,
    # which sits BEHIND the localCheckpoint barrier added in r13
    # (operators/dedup.py — three consumers share the narrow (id, long)
    # index frame). The downstream plan legitimately no longer shows
    # it, so audit the PRE-checkpoint dense_index plan directly on the
    # same input the catalog entry uses (VERDICT r13 #1: the r13 final
    # tree hard-failed here because this section still inspected the
    # post-barrier plan).
    from fhc_rco_etl_scalable_spark.operators.dedup import dense_index as _dix
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table as _lt_gw

    _docs_gw = _lt_gw(spark, "documents", sf_dir).select("doc_id")
    n_gw, n_ok = global_windows_bounded(_dix(_docs_gw, "doc_id"))
    check(
        "bounded_global_window(negative_sample:dense_index)",
        n_gw >= 1 and n_gw == n_ok,
        detail=f"{n_ok}/{n_gw} global windows bounded (pre-checkpoint)",
    )
    # And the post-barrier guarantee the checkpoint must preserve: the
    # final negative_sample plan may not REGROW an unbounded global
    # window of its own (0 is fine — the barrier hides dense_index's;
    # any that do appear must be bounded).
    n_gw, n_ok = global_windows_bounded(hq.QUERIES["negative_sample"](spark, sf_dir))
    check(
        "bounded_global_window(negative_sample:downstream)",
        n_gw == n_ok,
        detail=f"{n_ok}/{n_gw} global windows bounded (post-barrier)",
    )

    # 35b. Round-10 batch additions. negative_sample: pure native
    #     arithmetic (no Python, no engine RNG) and no cartesian
    #     beyond the 1-row scalar-count broadcast (BNLJ allowed, like
    #     BM25's constants); the dense-index offsets join and the
    #     final index equi-join must hash/broadcast. asof_tolerance:
    #     same one-shuffle union+ffill plan as asof_backward — the
    #     tolerance bound may not introduce a join or a Python node.
    p = plan_of(hq.QUERIES["negative_sample"](spark, sf_dir))
    check("no_python(negative_sample)", "Python" not in p)
    check("no_cartesian(negative_sample)", "CartesianProduct" not in p)
    p = plan_of(hq.QUERIES["asof_tolerance"](spark, sf_dir))
    check("no_python(asof_tolerance)", "Python" not in p)
    check("no_join(asof_tolerance)", "Join" not in p)
    n_ex = n_shuffles(p)
    check("single_shuffle(asof_tolerance)", n_ex <= 1, detail=f"{n_ex} exchanges")
    # r11: direction='nearest' = the SAME one-Exchange union plan with
    # two in-partition Sort+Window pairs (both directional scans) and
    # no join — the nearest resolution is a projection.
    p = plan_of(hq.QUERIES["asof_nearest"](spark, sf_dir))
    check("no_join(asof_nearest)", "Join" not in p)
    n_ex = n_shuffles(p)
    check("single_shuffle(asof_nearest)", n_ex == 1, detail=f"{n_ex} exchanges")
    n_w = len(re.findall(r"^\(\d+\) Window", p, re.M))
    check("two_scans(asof_nearest)", n_w == 2, detail=f"{n_w} window nodes")
    # r11: SCD2 point-in-time lookup — the chain broadcasts, the fact
    # side never shuffles (zero hash exchanges), validity range rides
    # the broadcast join as residual.
    p = plan_of(hq.QUERIES["scd2_pit_lookup"](spark, sf_dir))
    check("broadcast(scd2_pit_lookup)", "BroadcastHashJoin" in p)
    n_ex = n_shuffles(p)
    check("no_fact_shuffle(scd2_pit_lookup)", n_ex == 0, detail=f"{n_ex} exchanges")
    # r12 (VERDICT r11 #4): the big-dim fallback (broadcast_dim=False)
    # is the union/ffill as-of on valid_from — NO join node at all and
    # exactly ONE exchange on key (the union shuffles once, the window
    # scans in-partition). Built on raw parquet scans (supplier facts,
    # nation-derived dim) so nothing upstream contributes exchanges.
    from fhc_rco_etl_scalable_spark.operators.asof import pit_lookup as _pit
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table as _lt

    _facts = _lt(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_nationkey").alias("k"),
        F.expr(
            "timestamp'2024-01-01' + (s_suppkey % 40) * INTERVAL 1 DAY"
        ).alias("fact_ts"),
    )
    _dim = _lt(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("k"),
        F.expr("timestamp'2024-01-01' + n_nationkey * INTERVAL 1 DAY").alias(
            "valid_from"
        ),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.col("n_name"),
    )
    p = plan_of(
        _pit(_facts, _dim, "k", "fact_ts", value_cols=["n_name"],
             broadcast_dim=False)
    )
    check("no_join(pit_lookup_fallback)", "Join" not in p)
    n_ex = n_shuffles(p)
    check(
        "single_shuffle(pit_lookup_fallback)",
        n_ex == 1,
        detail=f"{n_ex} exchanges",
    )
    check("no_python(pit_lookup_fallback)", "Python" not in p)
    # r11: collocations — ONE corpus-sized exchange (the bigram count);
    # marginals derive from the checkpointed count frame.
    p = plan_of(hq.QUERIES["collocations"](spark, sf_dir))
    check("no_python(collocations)", "Python" not in p)
    check(
        "model_behind_barrier(collocations)",
        "ExistingRDD" in p and "Scan parquet" not in p,
        detail="count frame checkpointed; corpus scanned once at materialization",
    )
    # r11: label_propagation — per-round label join + count + window
    # argmax over the checkpointed symmetrized edges: key-partitioned
    # only, no cartesian, no Python.
    p = plan_of(hq.QUERIES["label_propagation"](spark, sf_dir))
    check(
        "no_cartesian(label_propagation)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )
    check("no_python(label_propagation)", "Python" not in p)
    # r11: pivot with an EXPLICIT value list — Spark's pivot is a
    # two-phase aggregation (partial by (group, category), PivotFirst
    # by group): exactly TWO key-partitioned exchanges, no
    # Expand/Generate, and no extra job to discover pivot values (the
    # explicit list is what removes the distinct scan).
    p = plan_of(hq.QUERIES["pivot_event_types"](spark, sf_dir))
    n_ex = n_shuffles(p)
    check("two_phase_pivot(pivot_event_types)", n_ex == 2, detail=f"{n_ex} exchanges")
    check("no_generate(pivot_event_types)", "Generate" not in p)
    # r12 (VERDICT r11 #2): the conditional-sum rewrite as an engine
    # operator (pivot_wide) — the SAME surface in exactly ONE
    # key-partitioned exchange (one groupBy with map-side partials:
    # the plan is partial_agg -> Exchange -> final_agg), no Expand,
    # no Generate, no join. The API entry above is the comparison row.
    p = plan_of(hq.QUERIES["pivot_event_types_wide"](spark, sf_dir))
    n_ex = n_shuffles(p)
    check(
        "one_shuffle_pivot(pivot_event_types_wide)",
        n_ex == 1,
        detail=f"{n_ex} exchanges",
    )
    check("no_generate(pivot_event_types_wide)", "Generate" not in p)
    check("no_join(pivot_event_types_wide)", "Join" not in p)
    check(
        "map_side_partials(pivot_event_types_wide)",
        p.count("HashAggregate") >= 2,
        detail="partial + final aggregate around the single exchange",
    )
    # r13 (VERDICT r12 #2): the MULTI-measure form — two measures per
    # category must still plan exactly ONE exchange (same
    # partial_agg -> Exchange -> final_agg shape; composing per-measure
    # pivots would pay an exchange per measure plus a join).
    p = plan_of(hq.QUERIES["pivot_event_types_wide_multi"](spark, sf_dir))
    n_ex = n_shuffles(p)
    check(
        "one_shuffle_pivot_multi(pivot_event_types_wide_multi)",
        n_ex == 1,
        detail=f"{n_ex} exchanges",
    )
    check("no_generate(pivot_event_types_wide_multi)", "Generate" not in p)
    check("no_join(pivot_event_types_wide_multi)", "Join" not in p)
    check(
        "map_side_partials(pivot_event_types_wide_multi)",
        p.count("HashAggregate") >= 2,
        detail="partial + final aggregate around the single exchange",
    )
    # r13 (VERDICT r12 #3): the pipeline surface routing through
    # pivot_wide (site_etl's Daily_Cause_Summary): still exactly ONE
    # key-partitioned exchange over the (checkpointed) downtime log,
    # no join, no Generate.
    p = plan_of(hq.QUERIES["daily_cause_summary_harness"](spark, sf_dir))
    n_ex = n_shuffles(p)
    check(
        "one_shuffle(daily_cause_summary)",
        n_ex == 1,
        detail=f"{n_ex} exchanges",
    )
    check("no_join(daily_cause_summary)", "Join" not in p)
    check("no_generate(daily_cause_summary)", "Generate" not in p)

    # 35c. kcore: the peel must be semi-joins (no value columns cross)
    #     and nothing cartesian across the composed 3-round plan.
    #     sliding_distinct: one Generate (the membership explode), no
    #     join at all, bounded exchanges (the countDistinct pair).
    p = plan_of(hq.QUERIES["kcore_filter"](spark, sf_dir))
    check("no_cartesian(kcore_filter)", "CartesianProduct" not in p
          and "BroadcastNestedLoop" not in p)
    check("no_python(kcore_filter)", "Python" not in p)
    p = plan_of(hq.QUERIES["sliding_distinct_users"](spark, sf_dir))
    check("no_join(sliding_distinct_users)", "Join" not in p)
    check("membership_explode(sliding_distinct_users)", "Generate" in p)
    n_ex = n_shuffles(p)
    check(
        # 3 = the (key, day) pre-dedup exchange (r11: cuts explode
        # fan-out from events*k to day-uniques*k) + the countDistinct
        # two-phase pair; anything more means a lost partitioning.
        "bounded_shuffle(sliding_distinct_users)",
        n_ex <= 3,
        detail=f"{n_ex} exchanges",
    )
    # r11: the explode's input must be the DEDUPED frame — in the
    # physical-plan TREE (children print below parents) the Generate
    # line must have a HashAggregate line somewhere BELOW it (the
    # (key, day) dropDuplicates); no aggregate below the Generate
    # would mean the explode still fans out raw events.
    tree = p.split("\n\n", 1)[0]
    lines = tree.splitlines()
    gen_line = next((i for i, ln in enumerate(lines) if "Generate" in ln), -1)
    agg_below = gen_line >= 0 and any(
        "HashAggregate" in ln for ln in lines[gen_line + 1 :]
    )
    check("explode_after_dedup(sliding_distinct_users)", agg_below)

    # 35d. neighbor_feature_agg: symmetrize + one feature equi-join +
    #     one aggregate — no cartesian, no Python, join count exactly
    #     the feature attach (the union is not a join).
    p = plan_of(hq.QUERIES["neighbor_feature_agg"](spark, sf_dir))
    check("no_python(neighbor_feature_agg)", "Python" not in p)
    check(
        "no_cartesian(neighbor_feature_agg)",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )

    # 35c. Round-14 persisted-index family. incremental_dedup_index:
    #     both band joins are HASH joins on (band, band_sig) — no
    #     cartesian anywhere — and no per-row Python (the minhash
    #     pipeline is native expressions). ann_index_query and its PQ
    #     twin: the stored assignment rows pass through the local-top-k
    #     kernel exactly once (ONE MapInPandas: cell probing, scoring
    #     and, for PQ, the ADC scores happen inside it), the collected
    #     query vectors broadcast into the native re-rank, and nothing
    #     joins the assignments against the queries as all-pairs. The
    #     PQ refine cut is a plain window over the kernel's output.
    p = plan_of(hq.QUERIES["incremental_dedup_index"](spark, sf_dir))
    check("no_cartesian(incremental_dedup_index)",
          "CartesianProduct" not in p and "BroadcastNestedLoop" not in p)
    check("no_python(incremental_dedup_index)", "Python" not in p)
    for qname in ("ann_index_query", "ann_index_query_pq"):
        p = plan_of(hq.QUERIES[qname](spark, sf_dir))
        check(f"no_cartesian({qname})",
              "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
        check(f"broadcast({qname} queries)", "BroadcastExchange" in p)
        n_kern = len(re.findall(r"^\(\d+\) MapInPandas", p, re.M))
        check(f"one_kernel_pass({qname})", n_kern == 1,
              detail=f"{n_kern} MapInPandas")

    # 36. S4 pruned REST scan, in-plan: the site IN-filter must be
    #     CONSUMED by pushFilters (no post-scan Filter survives) and
    #     the BatchScan's output must be exactly the 3 requested
    #     columns (etype exists server-side but is never extracted).
    #     Plan-only — the reader plans without any HTTP; the live
    #     wire-level twin is the rest_pruned_scan_harness assertion.
    from fhc_rco_etl_scalable_spark.sources.rest_datasource import (
        PagedRestDataSource,
    )

    with hq._python_pushdown_enabled(spark):
        spark.dataSource.register(PagedRestDataSource)
        scan = (
            spark.read.format("paged_rest")
            .schema("id long, site string, value double")
            .option("base_url", "http://127.0.0.1:1/api")
            .option("entity", "events")
            .option("sites", "S0,S1,S2")
            .load()
            .filter(F.col("site").isin("S0", "S2"))
        )
        p = scan._jdf.queryExecution().executedPlan().toString()
        # a surviving post-scan filter prints as a `Filter (...)` node;
        # the BatchScan line's `RuntimeFilters: []` must not count.
        check(
            "pushdown_consumed(rest_pruned_scan)",
            re.search(r"\bFilter \(", p) is None,
            detail="",
        )
        m = re.search(r"BatchScan paged_rest\[([^\]]*)\]", p)
        cols = [c.split("#")[0] for c in m.group(1).split(", ")] if m else []
        check(
            "projection(rest_pruned_scan)",
            cols == ["id", "site", "value"],
            detail=f"scan cols {cols}",
        )

    print(f"\n{len(failures)} hard failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
