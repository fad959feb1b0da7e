"""Text-analysis functions for large-scale training-data pipelines:
tokenization, language-ID heuristic, quality scoring, fingerprinting.

All native column expressions (split/filter/transform/aggregate) —
whole-stage codegen, no Python in the hot path. Designed for the
``documents`` table shape (doc_id, text, lang, source, n_chars) but
column-parameterized.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword seeds for the n-gram/stopword language
# heuristic (public common-word lists).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "das", "und", "von", "zu", "den", "mit", "ist", "ein"),
    "zh": ("的", "了", "是", "我", "不", "在", "有", "人", "这", "他"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_piece_count(text: Column | str) -> Column:
    """A BPE-flavored proxy token count: word-boundary pieces plus
    length overhead for long words (≈ ceil(len/4) pieces per word)."""
    return F.aggregate(
        tokens(text),
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("int"),
    )


def _hit_counter(toks: Column, words: tuple[str, ...]) -> Column:
    # NB: a plain `lambda t, w=words:` would make F.filter treat the
    # lambda as (element, index) and bind `w` to the index Column —
    # close over `words` via this factory instead.
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _stop_ratio(lowered: Column, words: tuple[str, ...]) -> Column:
    """Stopword-hit ratio over an ALREADY-lowered token array, as
    :func:`quality_score` reads it."""
    return _hit_counter(lowered, words) / F.greatest(F.size(lowered), F.lit(1))


def detect_language(text: Column | str) -> Column:
    """Argmax of the per-language stopword-hit counts, with 'und' when
    nothing matches.

    Two-level let-binding (r15): the naive form embedded the
    per-language hit-count EXPRESSION — each containing the whole
    tokenizer — in ``greatest`` and in every tie-breaking ``when``, so
    one guess re-tokenized the document ~35x. Bind the lowered token
    array once, compute the 5 scores once into an array, and argmax
    over the VALUES. Semantics identical: same hit counts, same
    earlier-language-wins tie order, same 'und' fallback."""

    langs = list(LANG_STOPWORDS)

    def pick(scores: Column) -> Column:
        best = F.array_max(scores)
        guess = F.lit("und")
        # earlier languages win ties (deterministic order)
        for i in reversed(range(len(langs))):
            guess = F.when(
                F.element_at(scores, i + 1) == best, F.lit(langs[i])
            ).otherwise(guess)
        return F.when(best > 0, guess).otherwise(F.lit("und"))

    def score_arr(ts: Column) -> Column:
        return F.array(
            *[_hit_counter(ts, words) for words in LANG_STOPWORDS.values()]
        )

    lowered = F.transform(tokens(text), lambda t: F.lower(t))
    scores = F.transform(F.array(lowered), score_arr)[0]
    return F.transform(F.array(scores), pick)[0]


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    return (F.length(c) - F.length(stripped)) / F.greatest(F.length(c), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low punct
    density, healthy English stopword ratio, mean-word-length sanity
    (the standard Gopher/C4-style cheap filters)."""
    c = F.col(text) if isinstance(text, str) else text
    words = LANG_STOPWORDS["en"]

    # Token array bound once (r15): token_count + the stopword ratio each
    # re-ran the tokenizer (4+ split/filter passes per row); all the
    # token-derived terms now read the bound value. Numerically
    # identical: same counts, same ratios, same fold.
    def q(toks: Column) -> Column:
        n_tok = F.size(toks)
        mean_word = F.length(c) / F.greatest(n_tok, F.lit(1))
        len_ok = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.3)
        word_ok = F.when((mean_word >= 2) & (mean_word <= 12), 1.0).otherwise(0.4)
        punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
        lowered = F.transform(toks, lambda t: F.lower(t))
        stop_ok = F.least(_stop_ratio(lowered, words) * 3, F.lit(1.0))
        # TRUNCATE to 4 places, don't round: truncation of an identical
        # double is bit-stable across engines, while decimal rounding
        # diverges within 1 ulp of a .xxxx5 boundary (Spark rounds the
        # shortest-decimal repr, DuckDB the binary value — first hit at
        # the sf1eq fixture). The score is non-negative, so floor ==
        # trunc.
        score = len_ok * 0.3 + word_ok * 0.2 + punct_ok * 0.2 + stop_ok * 0.3
        return F.floor(score * 10000) / F.lit(10000.0)

    return F.transform(F.array(tokens(c)), q)[0]


def normalized_fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of casefolded, punctuation-stripped,
    whitespace-collapsed text — the exact-dup key used by dedup."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}\s]", ""), r"\s+", " ")
    )
    return F.md5(norm)


def rolling_hashes(text: Column | str, window: int = 5, hasher=None) -> Column:
    """Winnowing-style rolling token-window hashes
    (array<bigint>): hash of each consecutive ``window`` tokens.
    Basis for robust near-dup fingerprints. Default ``hasher`` is
    xxhash64; pass an md5-based one for cross-engine reproducibility."""
    h = hasher or F.xxhash64

    # Token array bound as a lambda variable (the winnow_fingerprints
    # discipline, applied here in r15): embedding ``tokens(text)`` in
    # the per-window lambda re-tokenized the document once per window.
    def roll(toks: Column) -> Column:
        # lower bound 1, not 0: sequence(1, 0) would step DOWN to index
        # 0 and slice(toks, 0, ..) throws; short texts get one window
        # over all available tokens.
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - window + 1, F.lit(1)))
        return F.transform(
            idx,
            lambda i: h(F.concat_ws(" ", F.slice(toks, i, window))),
        )

    return F.transform(F.array(tokens(text)), roll)[0]


def winnow_fingerprints(
    text: Column | str, k: int = 5, w: int = 4, hasher=None
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-token window, then keep the MINIMUM hash
    of each sliding window of ``w`` consecutive hashes — guaranteeing
    at least one shared fingerprint for any match of length k + w - 1
    tokens, with an expected density of 2/(w+1).

    Returns ``array<bigint>`` of DISTINCT selected hashes, entirely
    map-side (no shuffle — a per-doc pure function like the simhash
    fold). Default ``hasher`` is xxhash64; pass an md5-based hasher
    for cross-engine-reproducible fingerprints.

    Evaluation-order trap avoided here: a naive
    ``transform(windows, j -> array_min(slice(hashes, j, w)))`` embeds
    the ``hashes`` EXPRESSION in the lambda body, and higher-order
    functions re-evaluate their body per element — O(n^2) hashing per
    document. Binding ``hashes`` as a LAMBDA VARIABLE (via a
    1-element-array transform) materializes it once per row; inner
    references then read the value, not the expression.
    """
    hashes = rolling_hashes(text, window=k, hasher=hasher)

    def winnow(hs: Column) -> Column:
        m = F.size(hs)
        widx = F.sequence(F.lit(1), F.greatest(m - w + 1, F.lit(1)))
        return F.array_distinct(
            F.transform(widx, lambda j: F.array_min(F.slice(hs, j, w)))
        )

    return F.transform(F.array(hashes), winnow)[0]


# Public-knowledge scrub patterns (C4/Gopher-style corpus cleaning):
# emails, URLs, long digit runs (phone/account numbers).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "digits": r"\b\d{7,}\b",
}


def scrub_pii(text: Column | str) -> Column:
    """Corpus-prep scrub: emails, URLs and long digit runs replaced by
    one space (C4-style cheap PII pass). Chained native regexp_replace — one
    projection, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, " ")
    return c


def chunk_documents(
    text: Column | str, size: int = 100, overlap: int = 20
) -> Column:
    """Split a document into token chunks of ``size`` with ``overlap``
    tokens shared between consecutive chunks — the context-window prep
    step of an LLM training pipeline. Returns ``array<string>`` of
    chunk texts, entirely map-side (explode downstream to get one row
    per chunk).

    Chunk starts advance by ``size - overlap``; the final chunk may be
    shorter. A short document yields exactly one chunk.

    The token array is bound as a lambda variable (1-element-array
    transform) so it is materialized ONCE per document — embedding the
    ``tokens(text)`` expression in the per-chunk lambda would re-run
    the tokenizer once per chunk (the higher-order re-evaluation trap
    documented at :func:`winnow_fingerprints`)."""
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap

    def chunk(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step))
        return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, size)))

    return F.transform(F.array(tokens(text)), chunk)[0]


def _ngrams_all(text: Column | str, n: int) -> Column:
    """ALL token n-grams, duplicates kept (unlike dedup.token_ngrams,
    which dedups — repetition signals need the multiplicities)."""
    # Lambda-bound token array (winnow_fingerprints discipline): the
    # per-gram lambda must reference the VALUE, not the tokenizer
    # expression, or every gram re-runs split+filter.
    def grams(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))

    return F.transform(F.array(tokens(text)), grams)[0]


def _run_fold(grams: Column) -> Column:
    """Fold a SORTED gram array into (dup_chars, top_chars): total
    characters inside grams occurring more than once (each occurrence
    counted) and characters inside the single most frequent gram
    (count x length).  Pure map-side — the per-doc repetition counters
    never shuffle; an explode+groupBy formulation would key a shuffle
    by (doc, gram) for a value each doc can compute locally."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("top"),
    )

    def flush(acc):
        run_chars = acc.run * F.length(acc.prev)
        return F.struct(
            F.when(acc.run > 1, acc.dup + run_chars).otherwise(acc.dup).alias("dup"),
            F.greatest(acc.top, run_chars).alias("top"),
        )

    def step(acc, g):
        flushed = flush(acc)
        return F.struct(
            g.alias("prev"),
            F.when(g == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(g == acc.prev, acc.dup).otherwise(flushed.dup).alias("dup"),
            F.when(g == acc.prev, acc.top).otherwise(flushed.top).alias("top"),
        )

    return F.aggregate(F.array_sort(grams), init, step, flush)


def repetition_signals(text: Column | str) -> Column:
    """Gopher-style repetition quality counters (Rae et al. 2021,
    Appendix A — public methodology) as one struct column:

    - ``dup_word_frac``: fraction of tokens that repeat an earlier
      token — (n_tokens - n_distinct_tokens) / n_tokens;
    - ``top_ngram_char_frac``: count x length of the most frequent
      2-gram over the text length;
    - ``dup_ngram_char_frac``: summed count x length of every
      5-gram occurring more than once, over text length.

    High values mark boilerplate / degenerate generations for the
    pre-training filter. All-native (sorted-array folds), zero shuffle
    — each doc's counters are local facts."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    chars = F.greatest(F.length(c), F.lit(1)).cast("double")
    top_fold = _run_fold(_ngrams_all(c, 2))
    dup_fold = _run_fold(_ngrams_all(c, 5))
    return F.struct(
        ((n_tok - F.size(F.array_distinct(toks))) / F.greatest(n_tok, F.lit(1)))
        .alias("dup_word_frac"),
        (top_fold.top / chars).alias("top_ngram_char_frac"),
        (dup_fold.dup / chars).alias("dup_ngram_char_frac"),
    )


def encode_tokens(text: Column | str, vocab_map: Column) -> Column:
    """Map each (lowercased) whitespace token to its vocabulary id via
    a map-literal lookup, 0 for out-of-vocabulary — the encode step of
    the tokenize -> vocab -> encode -> chunk -> pack chain.

    ``vocab_map`` is a ``create_map`` literal built from the bounded
    top-K vocabulary (K is a model constant, so the map ships as a
    closure expression — pure map-side, no join, no shuffle on the
    corpus)."""
    return F.transform(
        tokens(text),
        lambda t: F.coalesce(vocab_map[F.lower(t)], F.lit(0)).cast("int"),
    )
