"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design:
- exact: one shuffle on the content hash (groupBy), keep min id;
- MinHash+LSH: per-doc signature (map-side, no shuffle) -> banding ->
  ONE shuffle on (band, bucket-hash) -> candidate pairs verified with
  true Jaccard. No all-pairs stage anywhere;
- SimHash: 64-bit signature map-side; near-dup = identical signature
  (or banded prefixes for hamming<k);
- n-gram Jaccard: blocking on cheap keys (lang, length bucket) bounds
  the pair space; exact Jaccard via array_intersect/union.

Hash portability note: signatures use md5-derived 32-bit integers
(``conv(substr(md5(x),1,8),16,10)``) rather than Spark's murmur3 so
the DuckDB oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_fingerprint
from ..session import release_checkpoint


def md5_int(c: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint — reproducible in
    any engine with md5 + hex parsing."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def ppm_bucket(id_col: str, salt: str) -> Column:
    """Deterministic parts-per-million bucket of a row id: the shared
    primitive behind deterministic_sample / stratified_split /
    domain_mixture / weighted_sample. One definition keeps every
    sampling surface (and its DuckDB oracle twin) in lockstep."""
    return md5_int(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000


# MinHash permutation family: h_i(x) = (a_i*x + b_i) mod P over the
# 32-bit base hash. One md5 per gram total; the 16 permutations are
# integer arithmetic (portable to any SQL oracle, overflow-safe:
# a < 2^30, x < 2^32 -> product < 2^62).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _perm_coeffs(i: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"perm-a-{i}".encode()).hexdigest()[:8], 16) & 0x3FFFFFFF
    b = int(hashlib.md5(f"perm-b-{i}".encode()).hexdigest()[:8], 16)
    return (a | 1, b)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True
) -> DataFrame:
    """Exact-duplicate clustering: content hash -> keep the min-id doc
    per cluster. Returns (id, fingerprint, cluster_size, keep)."""
    from .skew import spread

    from pyspark.sql import Window

    fp = normalized_fingerprint(text_col) if normalized else F.md5(F.col(text_col))
    hashed = spread(df, id_col).select(F.col(id_col), fp.alias("fingerprint"))
    # Window over the fingerprint instead of groupBy + join back: ONE
    # normalization pass, ONE exchange, no self-join to re-execute the
    # regex lineage (measured 2x at sf0.1; same shuffle key at 100 TB).
    w = Window.partitionBy("fingerprint")
    return hashed.select(
        F.col(id_col),
        "fingerprint",
        F.count("*").over(w).alias("cluster_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
    )


def token_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct token n-grams (strings).

    The token array is bound as a lambda variable so tokenization runs
    once per document — ``F.slice(toks, i, n)`` inside the per-gram
    lambda would re-run split+filter per gram, O(len^2) per doc (the
    higher-order re-evaluation trap documented at
    functions/text.py::winnow_fingerprints; this builder feeds
    decontaminate / jaccard_pairs / minhash_bands, so the quadratic
    rode every text-dedup entry)."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")

    def grams(ts: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(ts) - n + 1, F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ts, i, n)))
        )

    return F.transform(F.array(toks), grams)[0]


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """The banded MinHash index rows for a corpus: one row per
    (``id_col``, band, band_sig). This IS the persistable LSH index —
    write it to a table and new batches dedup against it without
    re-minhashing history (:func:`incremental_minhash_dedup`); it is
    also the shared first stage of :func:`minhash_lsh_candidates`.

    Long format: explode grams once, hash per (doc, perm), min-reduce.
    An inlined signature array (one ``array_min`` per permutation)
    would re-evaluate the gram expression per permutation — a 16x
    expression blowup that falls out of whole-stage codegen; this
    shape is also the one that scales (hashing is map-side, one
    shuffle for the min-reduce).
    ``materialize`` keeps the localCheckpoint barrier callers that
    read the frame twice need (the self-join); pass False when the
    rows go straight to a sink.
    """
    rows_per_band = num_hashes // bands
    from .skew import spread

    # project BEFORE the spread exchange: only (id, text) shuffle,
    # not every column of the corpus frame
    df = spread(df.select(id_col, text_col), id_col)
    grams_long = df.select(
        F.col(id_col), F.explode(token_ngrams(F.col(text_col), ngram)).alias("__g")
    ).withColumn("__h", md5_int(F.col("__g")))
    mins = grams_long.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"__m{i}")
            for i, (a, b) in ((i, _perm_coeffs(i)) for i in range(num_hashes))
        ]
    )
    banded = mins.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[F.col(f"__m{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    return banded.localCheckpoint(eager=False) if materialize else banded


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding: docs sharing
    any band of their signature. Returns (id_a, id_b, n_shared_bands)
    with id_a < id_b.

    One shuffle on (band, band-signature); pair explosion is bounded by
    bucket sizes, not corpus size.
    """
    # barrier inside minhash_bands: the self-join reads `banded` twice —
    # without it the gram explode + min-reduce execute once per side.
    banded = minhash_bands(df, id_col, text_col, num_hashes, bands, ngram)
    # distinct alias names on both sides: same-lineage self-join would
    # otherwise resolve `band == band` to one attribute (always true).
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("band").alias("band_a"),
        F.col("band_sig").alias("bs_a"),
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("band_sig").alias("bs_b"),
    )
    pairs = a.join(
        b,
        (F.col("band_a") == F.col("band_b"))
        & (F.col("bs_a") == F.col("bs_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_shared_bands"))


def incremental_minhash_dedup(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an arriving batch against a PERSISTED LSH index — the
    production shape at 100 TB: history is minhashed once, its
    (id, band, band_sig) rows live in a table, and each new batch
    hashes only ITSELF. No recompute of history, ever.

    ``index`` carries history's :func:`minhash_bands` rows (same
    id_col name, same num_hashes/bands/ngram — the caller owns that
    consistency; a mismatched banding silently finds nothing, so
    persist the parameters next to the index table).

    A batch doc is a duplicate when any band collides with (a) an
    index row — cross-batch — or (b) a SMALLER-id batch doc —
    within-batch, the same keep=min-id convention as the rest of the
    dedup family. Resolution is single-pass and deterministic:
    ``dup_of`` = the smallest colliding id (history and batch pooled),
    NULL for novel docs. A doc whose only match was itself dropped
    still drops (conservative, documented — transitive re-admission
    would need iteration and changes no training-set semantics).

    Returns ``(annotated, batch_bands)``: ``annotated`` is one row per
    batch doc — (id, dup_of, is_new) — and ``batch_bands`` is the
    batch's OWN index rows, ready to append to the index table (append
    only the ``is_new`` ids' rows to keep the index canonical, or all
    of them to also catch future dups of dropped docs — both are valid
    policies; filtering by the annotated frame is one semi-join).

    Scale shape: one gram explode + min-reduce over the BATCH only,
    one (band, band_sig)-keyed join against the index (history-sized
    but pruned to colliding buckets by the hash join), one batch
    self-join bounded by bucket sizes, one min-aggregate. History text
    is never read.
    """
    nb = minhash_bands(batch, id_col, text_col, num_hashes, bands, ngram)
    hist_hits = (
        nb.alias("n")
        .join(
            index.select(
                F.col(id_col).alias("__hist_id"),
                F.col("band").alias("band"),
                F.col("band_sig").alias("band_sig"),
            ),
            on=["band", "band_sig"],
        )
        # self-id guard (ADVICE r14): foreachBatch is at-least-once —
        # on a replay whose own bands were already appended to the
        # index, every doc would otherwise collide with ITSELF and the
        # whole batch would silently drop as dup_of itself.
        .filter(F.col("__hist_id") != F.col(f"n.{id_col}"))
        .select(F.col(f"n.{id_col}").alias("__id"), F.col("__hist_id").alias("__m"))
    )
    a = nb.select(
        F.col(id_col).alias("__id"),
        F.col("band").alias("band"),
        F.col("band_sig").alias("band_sig"),
    )
    b = nb.select(
        F.col(id_col).alias("__m"),
        F.col("band").alias("band"),
        F.col("band_sig").alias("band_sig"),
    )
    batch_hits = a.join(b, on=["band", "band_sig"]).filter(
        F.col("__m") < F.col("__id")
    ).select("__id", "__m")
    best = (
        hist_hits.unionByName(batch_hits)
        .groupBy("__id")
        .agg(F.min("__m").alias("dup_of"))
    )
    ids = batch.select(id_col).distinct()
    annotated = ids.join(
        best, ids[id_col] == best["__id"], "left"
    ).select(
        id_col,
        "dup_of",
        F.col("dup_of").isNull().alias("is_new"),
    )
    return annotated, nb


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    ngram: int = 3,
    materialize: bool = True,
    max_df: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within the same block.
    Returns (id_a, id_b, jaccard) with jaccard >= threshold, id_a < id_b.

    ``threshold`` must be > 0: pairs sharing zero grams are never
    emitted (they'd be the full blocked cross product of irrelevant
    pairs).

    Inverted-index formulation: explode distinct grams to long rows,
    equi-join on (block, gram-hash) so the pair join ships only 8-byte
    hashes (never gram arrays), and |A∩B| falls out of a groupBy count
    with |A∪B| = |A|+|B|−|A∩B|. Exact, and the scalable shape — a
    naive array self-join both re-evaluates the gram build per side
    and shuffles whole arrays (measured 2x slower at sf0.1).

    Grams are 60-bit md5 ints (oracle-portable; collision odds ~1e-18
    per pair). ``materialize`` localCheckpoints the gram table so the
    self-join reads it once; at warehouse scale persist it to a table.

    ``max_df``: stop-gram guard (VERDICT r3 item 6). A gram present in
    more than ``max_df`` fraction of documents is a skew hot-spot: its
    inverted-index posting list joins with itself, producing O(df²)
    candidate rows on one shuffle key. With ``max_df`` set, such grams
    are excluded from CANDIDATE GENERATION only — |A|, |B| stay exact
    and each doc's (small, bounded by the distinct stop-gram count)
    stop-gram set is carried alongside so the intersection count adds
    their contribution back. Emitted scores are therefore still exact;
    the one recall caveat (documented, standard for df-capped
    similarity joins) is that a pair sharing ONLY stop grams is never
    emitted. Default ``None`` = exact/complete.
    """
    from .skew import spread

    # project to the shuffled columns before the spread exchange
    df = spread(df.select(id_col, text_col, *block_cols), id_col)
    g_long = df.select(
        F.col(id_col),
        *block_cols,
        F.explode(
            F.array_distinct(
                F.transform(
                    token_ngrams(F.col(text_col), ngram),
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                )
            )
        ).alias("__h"),
    )
    if materialize:
        g_long = g_long.localCheckpoint(eager=False)
    sizes = g_long.groupBy(id_col).agg(F.count("*").alias("__n"))

    stop_sets = None
    if max_df is not None:
        # g_long is distinct per (id, gram), so count(*) per gram = df.
        # The cap is PER BLOCK: the O(df²) self-join hot-spot is the
        # posting list within one (block, gram) join key, so a gram
        # saturating one block must be capped even when its global
        # fraction is tiny (1k-doc block inside a 1M-doc corpus).
        block_ndocs = df.groupBy(*block_cols).agg(
            F.countDistinct(id_col).alias("__ndocs")
        )
        stop = (
            g_long.groupBy(*block_cols, "__h")
            .agg(F.count("*").alias("__df"))
            .join(block_ndocs, list(block_cols)) if block_cols
            else g_long.groupBy("__h")
            .agg(F.count("*").alias("__df"))
            .crossJoin(F.broadcast(block_ndocs))
        )
        stop = stop.filter(
            F.col("__df") > F.lit(max_df) * F.col("__ndocs")
        ).select(*block_cols, "__h")
        join_keys = [*block_cols, "__h"]
        # Per-doc stop-gram sets: tiny (few grams can exceed the df cap).
        stop_sets = (
            g_long.join(F.broadcast(stop), join_keys, "left_semi")
            .groupBy(id_col)
            .agg(F.collect_set("__h").alias("__ss"))
        )
        g_long = g_long.join(F.broadcast(stop), join_keys, "left_anti")

    a = g_long.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__ba_{c}") for c in block_cols],
        F.col("__h").alias("__ha"),
    )
    b = g_long.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
        F.col("__h").alias("__hb"),
    )
    cond = (F.col("id_a") < F.col("id_b")) & (F.col("__ha") == F.col("__hb"))
    for c in block_cols:
        cond = cond & (F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    inter = a.join(b, cond).groupBy("id_a", "id_b").agg(F.count("*").alias("__i"))

    if stop_sets is not None:
        # Add back the stop-gram intersection so scores stay exact.
        ssa = stop_sets.select(
            F.col(id_col).alias("id_a"), F.col("__ss").alias("__ssa")
        )
        ssb = stop_sets.select(
            F.col(id_col).alias("id_b"), F.col("__ss").alias("__ssb")
        )
        # Plain equi-joins on id (NOT broadcast: a >max_df gram implies
        # stop_sets has a row for most docs — well-distributed shuffle
        # keys, unlike the gram hot-spot this guard removes).
        inter = (
            inter.join(ssa, "id_a", "left")
            .join(ssb, "id_b", "left")
            .withColumn(
                "__i",
                F.col("__i")
                + F.size(
                    F.array_intersect(
                        F.coalesce(F.col("__ssa"), F.array()),
                        F.coalesce(F.col("__ssb"), F.array()),
                    )
                ),
            )
            .drop("__ssa", "__ssb")
        )

    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    jac = F.col("__i") / F.greatest(
        F.col("__na") + F.col("__nb") - F.col("__i"), F.lit(1)
    )
    # threshold on the RAW value (rounding only for display/compare) —
    # filtering the rounded value would admit pairs half an ulp below
    # the threshold and disagree with the oracle's WHERE clause.
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash64_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 2,
    hasher=None,
    bits: int = 63,
) -> DataFrame:
    """SimHash signatures as a FRAME (id, simhash) over token
    n-grams: per-bit majority vote of the feature hashes (a bit is set
    when ones*2 > n_grams); near-dups have small hamming distance.
    Default ``hasher`` is xxhash64 with 63 voted bits (bit 63 clear so
    the sign stays +). Pass ``hasher=md5_60`` (below) with ``bits=60``
    for an oracle-portable variant DuckDB reproduces bit-for-bit. NULL
    text coalesces to '' so every input id gets a signature.

    Computed entirely MAP-SIDE: the gram-hash array is materialized
    once per doc, then a single ``F.aggregate`` fold packs all per-bit
    one-counts into ceil(bits/3) accumulator longs (three 21-bit
    counters per long). No explode, no shuffle — the signature is a
    pure per-doc function. Two other shapes were measured slower:

    - a column expression evaluating ``bits`` filter-lambdas over the
      gram-hash array defeats subexpression elimination across
      higher-order functions (the md5/gram build re-executes per bit)
      — measured 10x slower at the 5k-doc corpus;
    - the previous long-format form (explode grams to rows + one
      groupBy with ``bits`` conditional sums) hashes once per gram but
      pays an aggregate exchange and 60 branchy agg buffers per group
      — measured 1.4x slower than this fold at sf0.1 (1.85s vs 1.29s
      best-of-3), and its shuffle grows with corpus size while the
      fold shuffles nothing.

    Packed-counter bound: each 21-bit counter overflows at 2^21 grams
    per document (~2M tokens, ~10 MB of text). ``F.assert_true`` fails
    the job loudly rather than corrupting signatures silently; split
    such documents upstream or raise the counter width.
    """
    h = hasher or (lambda g: F.xxhash64(g))
    hashes = F.transform(
        token_ngrams(F.coalesce(F.col(text_col), F.lit("")), ngram), h
    )
    base = df.select(F.col(id_col), hashes.alias("__gh"))
    n_longs = -(-bits // 3)

    def contrib(hc: Column, s: int) -> Column:
        terms = None
        for j in range(3):
            i = 3 * s + j
            if i >= bits:
                break
            t = F.shiftleft(
                F.shiftrightunsigned(hc, i).bitwiseAND(F.lit(1)), 21 * j
            )
            terms = t if terms is None else terms + t
        return terms

    zero = F.struct(
        *[F.lit(0).cast("long").alias(f"p{s}") for s in range(n_longs)]
    )
    packed = F.aggregate(
        F.col("__gh"),
        zero,
        lambda acc, hc: F.struct(
            *[(acc[f"p{s}"] + contrib(hc, s)).alias(f"p{s}") for s in range(n_longs)]
        ),
    )
    # assert_true returns NULL on success; routing __n through it keeps
    # the guard in the live expression tree (a standalone guard column
    # would be pruned away with the final select).
    guarded_n = F.when(
        F.assert_true(
            F.size("__gh") < F.lit(1 << 21),
            F.lit(
                "simhash64_frame: >2^21 grams in one document overflows "
                "the packed 21-bit vote counters"
            ),
        ).isNull(),
        F.size("__gh"),
    )
    withp = base.select(
        F.col(id_col),
        guarded_n.alias("__n"),
        packed.alias("__p"),
    )
    out = None
    for i in range(bits):
        s, j = divmod(i, 3)
        ones = F.shiftrightunsigned(F.col("__p")[f"p{s}"], 21 * j).bitwiseAND(
            F.lit(0x1FFFFF)
        )
        b = F.when(ones * 2 > F.col("__n"), F.lit(1 << i)).otherwise(F.lit(0))
        out = b if out is None else out.bitwiseOR(b)
    return withp.select(F.col(id_col), out.alias("simhash"))


def md5_60(g: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT — same family as
    the jaccard gram hash; DuckDB twin: ``('0x'||substr(md5(g),1,15))
    ::BIGINT``."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    max_hamming: int | None = None,
    ngram: int = 2,
    hasher=None,
    bits: int = 63,
) -> DataFrame:
    """SimHash-bucketed CANDIDATE pairs with band rotation: the
    signature splits into ``n_bands`` contiguous bands and documents
    sharing ANY band exactly become candidates, with the full hamming
    distance attached (id_a < id_b). Pigeonhole guarantee: a pair
    within hamming <= n_bands - 1 differs in at most n_bands - 1
    bands, so at least one band matches — recall 1.0 up to that
    distance (a single-prefix bucket misses pairs differing in a
    prefix bit). Callers decide the near-dup cutoff — ``max_hamming``
    filters in-engine (0 = identical signatures).

    Scale shape: band extraction is map-side (posexplode), candidates
    come from ONE equi-join shuffle on (band index, band value) — a
    hot prefix now splits across n_bands buckets instead of pinning
    one unsplittable task. ``ngram``/``hasher``/``bits`` pass through
    to :func:`simhash64_frame` (use ``hasher=md5_60, bits=60`` for the
    oracle-portable signature family).
    """
    from .skew import spread

    band_bits = -(-bits // n_bands)  # ceil: last band may be narrower
    sigs = simhash64_frame(
        spread(df.select(id_col, text_col), id_col),
        id_col, text_col, ngram=ngram, hasher=hasher, bits=bits,
    ).withColumnRenamed("simhash", "__sh")
    # barrier: the self-join below reads the signature frame twice; the
    # frame is (id, int64) — cheap to materialize at any scale.
    sigs = sigs.localCheckpoint(eager=False)
    banded = sigs.select(
        F.col(id_col),
        F.col("__sh"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("__sh", b * band_bits).bitwiseAND(
                        F.lit((1 << band_bits) - 1)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band", "__bv"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__band").alias("band_a"),
        F.col("__bv").alias("bv_a"), F.col("__sh").alias("sa"),
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__band").alias("band_b"),
        F.col("__bv").alias("bv_b"), F.col("__sh").alias("sb"),
    )
    out = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bv_a") == F.col("bv_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        # a pair sharing several bands appears once per shared band —
        # collapse before computing hamming
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count("*").alias("n_shared_bands"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .select("id_a", "id_b", "hamming", "n_shared_bands")
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components over a pair list -> (id, component), with
    ``component`` = min node id reachable from ``id``.

    This is the clustering step every near-dup pipeline needs after
    candidate pairs (MinHash/SimHash/Jaccard emit PAIRS; dedup keeps
    one doc per CLUSTER, and transitive links A-B, B-C must collapse
    into one cluster even when A-C was never emitted as a pair).

    Two Spark-first shapes, property-tested to agree:

    - ``algorithm="propagation"`` (default): iterative min-label
      propagation. Each round is one shuffle — labels join edges, each
      node takes the min of its own label and its neighbors' — and
      converges in O(graph diameter) rounds. Near-dup graphs are
      shallow (similarity is near-transitive), so this is the right
      default for dedup workloads.
    - ``algorithm="star"``: the alternating large-star/small-star
      algorithm (Kiveris et al., "Connected Components in MapReduce
      and Beyond", SoCC'14) — O(log n) rounds regardless of diameter.
      Use for adversarial long-chain graphs where propagation would
      exceed the round bound.

    Each round ``localCheckpoint``s its output to truncate lineage and,
    once the round's count has materialized it, releases the previous
    round's checkpoint (``session.release_checkpoint``), so executor
    storage stays O(1 round), not O(max_iterations). The driver loop
    inspects only a tiny convergence aggregate per round (no data
    collected).
    """
    if algorithm == "star":
        return _connected_components_star(edges, src, dst, max_iterations)
    if algorithm != "propagation":
        raise ValueError(f"unknown connected_components algorithm {algorithm!r}")
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # ckpt is the current round's checkpoint frame; labels drops its
    # __changed flag
    ckpt = labels = (
        sym.select("u").distinct().select("u", F.col("u").alias("label"))
    ).localCheckpoint(eager=False)
    for _ in range(max_iterations):
        # neighbor labels: for each node u, min label among v's labels
        nbr = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_ckpt = (
            labels.join(nbr, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).alias(
                    "__changed"
                ),
            )
            .localCheckpoint()  # eager: materialize once, reuse twice below
        )
        changed = new_ckpt.filter(F.col("__changed")).limit(1).count()
        release_checkpoint(ckpt)
        ckpt, labels = new_ckpt, new_ckpt.drop("__changed")
        if changed == 0:
            break
    else:
        # Silent partial convergence would split transitive clusters
        # and silently keep near-duplicate docs — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter exceeds the bound); raise "
            "max_iterations or pass algorithm='star' (O(log n) "
            "large-star/small-star) for adversarial long-chain graphs"
        )
    return labels.select(F.col("u").alias("id"), F.col("label").alias("component"))


def _connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., SoCC'14): converges in O(log n) rounds on ANY
    graph, including long chains that defeat diameter-bounded
    propagation.

    Each round is two grouped-min joins (large-star hooks every
    larger neighbor of u onto min(Γ(u) ∪ u); small-star re-hooks the
    smaller neighborhood), after which the edge set is strictly closer
    to a star forest. Convergence = edge-set fixed point, detected via
    a (count, hash-sum) signature — one cheap aggregate, no driver
    data. The final edge set is a star forest: every node points at
    its component's min id.
    """
    # orient u > v, drop self-loops
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # from the ORIGINAL edges, so self-loop-only nodes keep a label
    # (propagation parity)
    all_nodes = (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def signature(df: DataFrame) -> tuple:
        # bit_xor: order-independent, overflow-free under ANSI mode
        # (edge sets are distinct, so XOR cancellation can't collide
        # two different sets of the same size except by hash collision)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return (row.n, row.h)

    sig = signature(e)
    for _ in range(max_iterations):
        # large-star: operate on the symmetric view; for each node u,
        # hook every neighbor v > u onto m = min(Γ(u) ∪ {u}).
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_large = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: on the (u > v)-oriented edges, re-hook u and all
        # its smaller neighbors onto m = min of that neighborhood.
        m_small = large.groupBy("u").agg(F.min("v").alias("m"))
        attach = (
            large.join(m_small, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        hooked = m_small.select("u", F.col("m").alias("v"))
        new_e = attach.unionByName(hooked).distinct().localCheckpoint()
        new_sig = signature(new_e)
        release_checkpoint(e)
        e = new_e
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge in "
            f"{max_iterations} iterations — not expected for any graph "
            f"with < 2^{max_iterations} nodes"
        )
    # star forest: every non-root points at the root; roots are absent
    # from the 'u' side or self-identified via all_nodes left join.
    labels = all_nodes.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce("component", F.col("id")).alias("component"))
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    algorithm: str = "propagation",
) -> DataFrame:
    """Full near-dup dedup decision: candidate pairs -> connected
    components -> keep the min-id doc per cluster. Docs in no pair are
    their own singleton cluster. Returns
    (id, component, cluster_size, keep). ``algorithm`` selects the
    component solver (see :func:`connected_components`)."""
    comp = connected_components(pairs, src, dst, algorithm=algorithm)
    ids = df.select(F.col(id_col).alias("id"))
    labeled = ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component")
    return (
        labeled.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("keep", F.col("id") == F.min("id").over(w))
    )


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    salt: str = "sample",
) -> DataFrame:
    """Hash-based deterministic sampling: keep rows whose
    ``md5(salt || id)`` bucket (of 1e6) falls below ``fraction``.

    Training-data pipelines need samples that are (a) reproducible
    across runs/engines — no RNG state, no partition-order dependence
    like ``df.sample`` — and (b) consistent: the same id is in or out
    regardless of which table or day it appears in, so joins between
    sampled tables stay aligned. Pure map-side: no shuffle, prunes
    with the scan.
    """
    bucket = ppm_bucket(id_col, salt)
    return df.filter(bucket < int(fraction * 1_000_000))


def stratified_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each id hashes into
    [0, 1e6) once; consecutive weight intervals label it. Adds a
    ``split`` column; weights must sum to <= 1 (remainder unlabeled
    NULL — useful as a holdout). Same hash-consistency guarantees as
    :func:`deterministic_sample`; map-side only."""
    if not weights:
        raise ValueError("stratified_split: weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"stratified_split: negative weight in {weights}")
    if sum(weights.values()) > 1.0 + 1e-9:
        # >1 would push the last interval past bucket 999999, silently
        # under-assigning later labels and breaking the NULL-holdout
        # contract (remainder = unlabeled).
        raise ValueError(
            f"stratified_split: weights sum to {sum(weights.values())} > 1"
        )
    bucket = ppm_bucket(id_col, salt)
    expr = None
    lo, cum = 0, 0.0
    for name, w in weights.items():
        # Boundaries from the ROUNDED cumulative weight, not per-weight
        # truncation: int(1/3 * 1e6) * 3 = 999999 would leave bucket
        # 999999 unlabeled even though the weights sum to exactly 1.
        cum += w
        hi = int(round(cum * 1_000_000))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn("split", expr.otherwise(F.lit(None).cast("string")))


def dense_index(df: DataFrame, id_col: str, buckets: int = 64) -> DataFrame:
    """Distributed contiguous index: a deterministic bijection of the
    rows onto ``0..n-1`` (column ``__i``) without a global sort.

    The scalable zipWithIndex shape: bucket by ``id % buckets``,
    within-bucket ``row_number`` (a KEY-partitioned window), then an
    exclusive running sum over the per-bucket counts gives each
    bucket's offset — that window is global but its input is the
    aggregate-bounded ``buckets``-row frame (the bounded-global-window
    pattern explain_audit section 35 checks), and the offsets
    broadcast back. The index is deterministic and engine-portable
    (pure modulo + rank arithmetic, no engine hash), NOT id-sorted —
    callers that only need a bijection (negative sampling, random
    permutation) don't pay for an order nobody reads.

    CONTRACT: ``id_col`` must be UNIQUE and NON-NULL. A duplicate id
    makes the within-bucket ``row_number`` tie nondeterministic (the
    "bijection" silently stops being one); a NULL id lands in a NULL
    bucket and never joins back. The operator does not count-scan to
    enforce this (that would double the cost of every call) — callers
    feeding non-key columns must ``dropDuplicates``/``na.drop`` first.
    """
    from pyspark.sql import Window

    b = df.select(F.col(id_col), (F.col(id_col) % buckets).alias("__b"))
    w = Window.partitionBy("__b").orderBy(id_col)
    rn = b.withColumn("__rn", F.row_number().over(w) - 1)
    counts = b.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "__off", F.coalesce(F.sum("__c").over(wo), F.lit(0))
    )
    return rn.join(F.broadcast(offs.select("__b", "__off")), "__b").select(
        id_col, (F.col("__off") + F.col("__rn")).cast("long").alias("__i")
    )


def _draw_index(
    i: Column,
    rank: Column,
    m: Column,
    mult_a: int,
    mult_b: int,
    seed: int,
) -> Column:
    """``(i*mult_a + rank*mult_b + seed) mod m`` without int64
    overflow, exact for any ``0 <= i < 2^62`` and ``2 <= m < 2^62``.

    Reducing mod-side first is not enough: ``(i % m) * (mult_a % m)``
    still overflows int64 once ``m`` passes ~2^31.5. The one product
    that can exceed 64 bits runs in DECIMAL(38,0) — both factors are
    < 2^62, so the product is < 2^124 < 10^38 and the decimal stays
    exact (Spark decimal multiply is exact BigDecimal, not float).
    ``rank`` and the constants are small; their terms stay in longs.
    Congruence: (a*b + c) mod m == (((a mod m)*(b mod m)) mod m +
    c mod m) mod m, so a plain-int64 SQL oracle at moderate ``n``
    computes the identical value.
    """
    dec = "decimal(38,0)"
    im = (i % m).cast(dec)
    am = (F.lit(mult_a).cast("long") % m).cast(dec)
    prod = (im * am) % m.cast(dec)
    rest = (rank.cast("long") * F.lit(mult_b) + F.lit(seed)) % m
    return ((prod + rest.cast(dec)) % m.cast(dec)).cast("long")


def negative_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    mult_a: int = 2654435761,
    mult_b: int = 40503,
    seed: int = 7,
    buckets: int = 64,
    method: str = "affine",
) -> DataFrame:
    """``k`` deterministic pseudo-random negatives per anchor from the
    same corpus (contrastive-training negative sampling; the uniform
    complement of the margin-mining hard negatives).

    Negative ``t`` of the anchor at dense index ``i`` is the row at
    index ``(i*mult_a + t*mult_b + seed) % (n-1)``, skip-self mapped
    (``j -> j+1`` when ``j >= i``) so an anchor never draws itself —
    a bijection of ``[0, n-2]`` onto the other ``n-1`` rows per draw.
    Draws are WITH replacement across ``t``; arithmetic is plain
    integer multiply/mod, so a SQL oracle reproduces it exactly and
    no engine RNG is involved. The multiply is performed mod-reduced
    in DECIMAL(38,0) (see :func:`_draw_index`), so it is exact for
    any ``n`` up to 2^62 — no int64 overflow ceiling.

    Requires ``n >= 2`` — ENFORCED in-plan: the broadcast count frame
    raises at execution time on a smaller corpus instead of letting
    ``% (n-1)`` mod-by-zero yield NULL joins and a silently empty
    result (non-ANSI Spark swallows the division).

    ``method`` picks the draw arithmetic (both deterministic and
    SQL-transcribable, no engine RNG):

    - ``'affine'`` (default, the original contract):
      ``j_t = (i*mult_a + t*mult_b + seed) mod (n-1)``. Caveat
      (documented, deliberate): for a fixed anchor the ``k`` draws
      form an arithmetic progression (stride ``mult_b mod (n-1)``) —
      each draw is marginally uniform but draws are CORRELATED across
      ``t``, and two anchors with ``i*mult_a`` congruent mod ``n-1``
      share the same negative set.
    - ``'md5'`` (VERDICT r11 #5 — the decorrelated form): ``(i, t)``
      mix through the catalog's portable md5-prefix idiom before the
      mod-reduce — ``j_t = hex60(md5('negs|{seed}|' || i || '|' ||
      t)) mod (n-1)`` with ``hex60`` the first 15 hex chars as a
      60-bit integer (exact in int64; DuckDB transcribes it as
      ``('0x' || substr(md5(..),1,15))::BIGINT``). Draws are
      pairwise-independent-looking across both ``i`` and ``t``
      (avalanche), at the cost of md5 per draw and a ~(n-1)/2^60
      modulo bias — negligible for any real corpus. ``mult_a``/
      ``mult_b`` are ignored.

    Training pipelines can also re-key per epoch (vary ``seed``)
    under either method.

    Shape: dense index (key-partitioned window + broadcast offsets),
    one ``sequence``+``explode`` (k rows per anchor), one equi-join
    back on the index. Returns (id, neg_rank, neg_id)."""
    if method not in ("affine", "md5"):
        raise ValueError(f"unknown method {method!r}")
    # The index bijection feeds THREE consumers (the guarded count,
    # the anchor explode, and the join-back donor side) — without a
    # barrier each re-derives dense_index's two-scan subtree from the
    # raw input (measured r13: 6 FileScans in one plan). The frame is
    # (id, long): narrow, row-sized — checkpoint-cheap.
    ix = dense_index(df, id_col, buckets).localCheckpoint(eager=False)
    n = ix.agg(F.count(F.lit(1)).cast("long").alias("__n")).select(
        # fail-fast n >= 2: the guard lives INSIDE the __n expression
        # so column pruning can never drop it.
        F.when(F.col("__n") >= 2, F.col("__n"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("negative_sample requires a corpus of >= 2 rows, got "),
                    F.col("__n").cast("string"),
                )
            )
        )
        .alias("__n")
    )
    anchors = (
        ix.crossJoin(F.broadcast(n))
        .select(
            id_col,
            "__i",
            "__n",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_rank"),
        )
        .withColumn(
            "__j",
            _draw_index(
                F.col("__i"),
                F.col("neg_rank"),
                F.col("__n") - 1,
                mult_a,
                mult_b,
                seed,
            )
            if method == "affine"
            else (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"negs|{int(seed)}|"),
                                F.col("__i").cast("string"),
                                F.lit("|"),
                                F.col("neg_rank").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % (F.col("__n") - 1)
            ),
        )
        .select(
            id_col,
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.when(F.col("__j") >= F.col("__i"), F.col("__j") + 1)
            .otherwise(F.col("__j"))
            .alias("__t"),
        )
    )
    return anchors.join(
        ix.select(F.col(id_col).alias("neg_id"), F.col("__i").alias("__t")),
        "__t",
    ).select(id_col, "neg_rank", "neg_id")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    partition_cols: list[str] | None = None,
    allow_global: bool = False,
) -> DataFrame:
    """Streaming sequence packing: assign each doc to a training bin of
    ~``budget`` tokens, in deterministic id order. Bin id = floor of the
    EXCLUSIVE running token sum / budget — the standard one-pass packing
    used to batch pretraining data. A doc longer than the budget forces
    its SUCCESSOR into a fresh bin (its own bin may still hold earlier
    short docs — this is streaming packing, not bin isolation).

    Shape: one window over (partition_cols, id order). With
    ``partition_cols`` (e.g. a split or shard column) the cumsum is
    per-shard and the whole pack parallelizes; without, it is a single
    global ordering — correct, but the degenerate single-partition
    window, so always shard first at scale.
    """
    from pyspark.sql import Window

    if not partition_cols and not allow_global:
        # The unpartitioned cumsum is ONE window partition — a single
        # task packing the whole corpus. Correct, but silently serial;
        # at scale always shard first (split/shard column) and let each
        # shard pack in parallel. Explicit opt-in for the global path.
        raise ValueError(
            "pack_sequences without partition_cols builds a single global "
            "window (one task). Pass partition_cols (e.g. a shard/split "
            "column) or opt in explicitly with allow_global=True."
        )
    parts = partition_cols or []
    w = (
        Window.partitionBy(*parts).orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = F.coalesce(F.sum(token_count_col).over(w), F.lit(0))
    return df.withColumn(
        "bin", F.floor(running / F.lit(budget)).cast("long")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    ngram: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene pass that
    drops corpus documents overlapping an evaluation set before
    training (the published n-gram methodology of the GPT-3 appendix /
    C4 audits): flag every corpus doc sharing at least ``min_overlap``
    DISTINCT token ``ngram``-grams with any benchmark doc.

    Returns one row per contaminated (corpus, benchmark) pair:
    ``(id_col, bench_id, n_shared)``; consumers anti-join the ids away
    or inspect per-pair evidence.

    Scale shape: an eval set is small by definition, so its exploded
    gram table is BROADCAST; the corpus side explodes its (distinct)
    grams map-side, and the only shuffle carries the (doc, bench) rows
    that actually matched — no all-pairs, no corpus-wide exchange.
    Raise ``ngram`` to sharpen precision (8+ grams are near-verbatim
    matches); ``min_overlap`` suppresses single-collocation noise.
    """
    bench_id_col = bench_id_col or id_col
    bench_text_col = bench_text_col or text_col
    c = corpus.select(
        F.col(id_col),
        F.explode(token_ngrams(F.col(text_col), ngram)).alias("__g"),
    )
    b = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(token_ngrams(F.col(bench_text_col), ngram)).alias("__g"),
    )
    return (
        c.join(F.broadcast(b), "__g")
        # grams are distinct within each doc (token_ngrams dedups), so a
        # plain count(*) per pair IS the distinct-shared-gram count
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 8,
) -> DataFrame:
    """Corpus-wide span-level exact dedup (C4-style: Raffel et al.
    2020 removed any three-sentence span occurring more than once in
    the corpus; the fixtures carry no sentence boundaries, so the unit
    here is a non-overlapping ``span_words``-word chunk).

    Every document is split into consecutive word chunks; a chunk that
    appears anywhere earlier in the corpus — by (id, position) order —
    is dropped, and each document is reassembled from its surviving
    chunks in order. Output: (id, text_dedup, n_spans_kept), one row
    per input document (fully-duplicated docs come back with '' and 0).

    Scale: chunking is map-side (split/sequence/slice — no Python);
    the global first-arrival is ONE shuffle partitioned by the span
    string itself (row_number over span), then one id-shuffle to
    reassemble. No all-pairs, no self-join; hot spans skew a partition
    but each group only needs its minimal (id, pos) — Spark's
    row_number spills, it never materializes the group.
    """
    # Word array bound as a lambda variable (winnow_fingerprints
    # discipline, r15): embedding `words` in the per-chunk lambda
    # re-ran the split once per chunk — O(len^2/span) per doc.
    def chunks(ws: Column) -> Column:
        n_chunks = F.ceil(F.size(ws) / F.lit(span_words)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(ws, i * span_words + 1, span_words), " "
            ),
        )

    spans = F.transform(F.array(F.split(F.col(text_col), " ")), chunks)[0]
    from pyspark.sql.window import Window

    exploded = df.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "span")
    )
    first = exploded.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("span").orderBy(id_col, "pos")
        ),
    ).filter(F.col("rn") == 1)
    rebuilt = first.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count("span").alias("n_spans_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_spans_kept", F.lit(0)).alias("n_spans_kept"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 8,
) -> DataFrame:
    """Corpus-wide exact repeated-substring removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": remove
    every substring of >= N tokens that occurs more than once in the
    corpus — their ExactSubstr, built there on a suffix array).

    The Spark shape replaces the suffix array with sliding
    ``min_tokens``-gram anchors at EVERY token position, which is
    EXACT for this removal rule, not an approximation: a repeated
    substring of length >= N contains only repeated N-windows, and
    every repeated N-window IS a repeated substring of length N — so
    the union of positions covered by duplicated N-grams equals the
    union of positions covered by repeated >= N-token substrings.
    (Unlike :func:`span_dedup`'s non-overlapping chunks, which miss
    repeats that straddle a chunk boundary.)

    Pipeline (one explode, three key-partitioned exchanges, no
    all-pairs): sliding grams with positions -> groupBy gram keeps
    only count>1 (duplicated anywhere, same-doc repeats included, as
    in the paper) -> semi-join positions back on gram -> per-doc
    interval merge of [pos, pos+N) windows (classic gaps-and-islands
    over a per-doc window) -> token-indexed filter rebuilds the
    cleaned text. Output: one row per input doc —
    (id, n_tokens, n_removed, n_spans, cleaned_text).

    Scale: the gram aggregate and the gram semi-join shuffle on the
    gram itself (hot boilerplate grams skew a partition, but each
    group reduces to a count — map-side partial aggregation bounds
    it); the interval merge shuffles on the doc id. At 100 TB the
    gram key-space dominates the shuffle exactly like the paper's
    suffix-array build dominates theirs; nothing is quadratic.
    """
    from pyspark.sql.window import Window

    # Explicit delimiter class, NOT \s+: Java's \s includes vertical
    # tab (\x0B) while RE2's (the DuckDB oracle) does not — \x0B text
    # would tokenize differently across engines.
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\f\r]+"),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    grams = base.filter(n >= min_tokens).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - min_tokens),
                lambda i: F.array_join(
                    F.slice("__toks", i + 1, min_tokens), " "
                ),
            )
        ).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("gram")
    )
    cov = grams.join(dup, "gram").select(
        id_col, "pos", (F.col("pos") + min_tokens).alias("__end")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("__end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        cov.withColumn(
            "__new",
            (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int"),
        )
        .withColumn("__island", F.sum("__new").over(w))
        .groupBy(id_col, "__island")
        .agg(F.min("pos").alias("__s"), F.max("__end").alias("__e"))
    )
    spans = islands.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("__e") - F.col("__s")).cast("long").alias("n_removed"),
        F.collect_list(F.struct("__s", "__e")).alias("__ivs"),
    )
    joined = base.join(spans, id_col, "left")
    kept = F.when(F.col("__ivs").isNull(), F.col("__toks")).otherwise(
        F.filter(
            F.col("__toks"),
            lambda _, i: ~F.exists(
                F.col("__ivs"),
                lambda iv: (i >= iv["__s"]) & (i < iv["__e"]),
            ),
        )
    )
    return joined.select(
        id_col,
        F.size("__toks").cast("long").alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def domain_mixture(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    total_budget: int,
    salt: str = "mix",
) -> DataFrame:
    """Budget-constrained domain-mixture sampling: give every domain an
    equal share of ``total_budget`` documents and take a deterministic
    hash-sample at rate ``min(1, share / available)`` per domain — the
    mixing step every multi-source training pipeline runs before
    tokenization (upsampling is out of scope; rates cap at 1).

    Determinism contract: the per-domain rate is floored to an integer
    ppm and compared against the same md5 bucket used by
    ``deterministic_sample``, so membership is reproducible across
    engines and stable under re-partitioning.

    Scale: one count aggregation over the domain column (tiny result),
    the rate table broadcasts back onto the corpus, and selection is a
    map-side filter — the full pass never shuffles the fact table.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("avail"))
    n_domains = counts.select(
        F.count(F.lit(1)).cast("double").alias("n_domains")
    )
    rates = counts.crossJoin(F.broadcast(n_domains)).select(
        domain_col,
        "avail",
        F.floor(
            F.least(
                F.lit(1.0),
                (F.lit(float(total_budget)) / F.col("n_domains"))
                / F.col("avail").cast("double"),
            )
            * 1_000_000
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    bucket = ppm_bucket(id_col, salt)
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.col("rate_ppm"))
        .select(id_col, domain_col, "avail", "rate_ppm")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis
    & Spirakis A-ES, IPL 2006): each row gets key ``u^(1/w)`` with
    ``u`` a hash-derived uniform in (0,1); the global top-k by key is
    an exact weighted sample — rows surface with probability
    proportional to weight, reproducibly (no RNG state, no partition-
    order dependence).

    Scale: the key is map-side arithmetic and the top-k plans as
    TakeOrdered (per-partition heads merged on the driver) — no global
    sort of the corpus. Cross-engine parity: the key is rounded to 12
    decimals with an id tiebreak, so a libm ulp difference in ``pow``
    can never reorder the sample between engines.
    """
    bucket = ppm_bucket(id_col, salt)
    u = (bucket + F.lit(0.5)) / F.lit(1_000_000.0)  # uniform, never 0 or 1
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 12
    )
    return (
        df.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), id_col)
        .limit(k)
    )
