"""Training-data extension operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from fhc_rco_etl_scalable_spark.functions import text as TX
from fhc_rco_etl_scalable_spark.operators import dedup as DD
from fhc_rco_etl_scalable_spark.operators import similarity as SIM
from fhc_rco_etl_scalable_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    fake_image_decoder,
    frame_sample_plan,
    not_implemented_decoder,
)

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick  brown fox jumps over the lazy dog"),  # dup modulo case/ws
    (3, "completely different content about spark engines"),
    (4, "The quick brown fox jumps over the lazy cat today"),  # near-dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalized(docs):
    out = {r.doc_id: r for r in DD.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1].fingerprint == out[2].fingerprint
    assert out[1].keep and not out[2].keep
    assert out[1].cluster_size == 2
    assert out[3].cluster_size == 1 and out[3].keep


def test_minhash_identical_docs_share_all_bands(docs):
    pairs = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in DD.minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert pairs.get((1, 2)) == 4  # normalized-identical: every band
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert (1, 4) in pairs  # near-dup shares at least one band


def test_incremental_minhash_dedup_against_persisted_index(spark, docs, tmp_path):
    """The production flow: minhash history ONCE, persist the band
    rows to parquet, dedup an arriving batch against the READ-BACK
    index — cross-batch dups resolve to the history id, within-batch
    dups to the smaller batch id, novel docs pass; and appending the
    batch's own bands catches a later batch's dup of THIS batch."""
    history = docs.filter("doc_id IN (1, 3)")  # fox doc + spark doc
    idx_path = str(tmp_path / "lsh_index.parquet")
    DD.minhash_bands(history, "doc_id", "text").write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    batch = spark.createDataFrame(
        [
            (10, "the quick  brown fox jumps over the lazy dog"),  # dup of 1
            (11, "entirely novel text about incremental indexes"),
            (12, "entirely novel text about incremental indexes"),  # dup of 11
        ],
        "doc_id long, text string",
    )
    annotated, batch_bands = DD.incremental_minhash_dedup(
        batch, index, "doc_id", "text"
    )
    got = {r.doc_id: (r.dup_of, r.is_new) for r in annotated.collect()}
    assert got[10] == (1, False)  # history collision, history id wins
    assert got[11] == (None, True)
    assert got[12] == (11, False)  # within-batch, smaller id wins
    # history text is never in the plan: the only parquet source is
    # the index frame (batch/history are local relations here, so any
    # parquet scan in the plan IS the index read-back)
    plan = annotated._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()

    # append the batch's bands; a later batch's dup of doc 11 now hits
    batch_bands.write.mode("append").parquet(idx_path)
    index2 = spark.read.parquet(idx_path)
    later = spark.createDataFrame(
        [(20, "entirely novel text about incremental indexes")],
        "doc_id long, text string",
    )
    ann2, _ = DD.incremental_minhash_dedup(later, index2, "doc_id", "text")
    (row,) = ann2.collect()
    assert (row.dup_of, row.is_new) == (11, False)


def test_jaccard_pairs_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "a b c d", "x"), (3, "z z z z", "x")],
        "doc_id long, text string, blk string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.jaccard_pairs(df, "doc_id", "text", ["blk"], threshold=0.1).collect()
    }
    assert got[(1, 2)] == 1.0
    assert (1, 3) not in got  # zero shared grams -> never emitted


def test_simhash_identical_zero_hamming(spark, docs):
    dups = DD.simhash_near_dups(docs, "doc_id", "text", n_bands=4)
    got = {(r.id_a, r.id_b): r.hamming for r in dups.collect()}
    assert got.get((1, 2)) == 0  # normalized-identical text -> same sig?  # noqa
    sig = {r.doc_id: r.simhash for r in DD.simhash64_frame(
        docs, "doc_id", "text").collect()}
    assert sig[1] >= 0 and sig[3] >= 0  # sign bit clear


def test_simhash_band_rotation_recall(spark):
    # Pigeonhole guarantee: EVERY pair within hamming <= n_bands - 1
    # must surface as a candidate, wherever the differing bits fall —
    # including the top bits a single-prefix bucket would miss.
    import itertools
    import random

    rng = random.Random(7)
    corpus = [(0, "the quick brown fox jumps over the lazy dog " * 3)]
    words = corpus[0][1].split()
    for i in range(1, 40):  # perturbed variants + random docs
        if i % 2:
            w = list(words)
            for _ in range(rng.randint(1, 2)):
                w[rng.randrange(len(w))] = rng.choice(["cat", "dot", "fig", "gnu"])
            corpus.append((i, " ".join(w)))
        else:
            corpus.append((i, " ".join(rng.choice(words) for _ in range(30))))
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in DD.simhash64_frame(
        docs, "doc_id", "text").collect()}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b)
        for r in DD.simhash_near_dups(
            docs, "doc_id", "text", n_bands=4, max_hamming=3
        ).collect()
    }
    assert want, "fixture produced no hamming<=3 pairs"
    assert want == got  # recall 1.0 AND no pairs beyond the cutoff


def test_lsh_recall_against_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.lsh_topk(emb, queries, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall {recall}"


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [2.0, 4.0, 6.0])], "a array<double>, b array<double>")
    v = df.select(SIM.cosine(F.col("a"), F.col("b")).alias("c")).first().c
    assert abs(v - 1.0) < 1e-12


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("the cat and the dog, in a house!!!",)], "text string"
    )
    row = df.select(
        TX.token_count("text").alias("n"),
        TX.detect_language("text").alias("lang"),
        TX.quality_score("text").alias("q"),
        TX.normalized_fingerprint("text").alias("fp"),
        TX.rolling_hashes("text", window=3).alias("rh"),
        TX.bpe_ish_piece_count("text").alias("bpe"),
    ).first()
    assert row.n == 8
    assert row.lang == "en"
    assert 0.0 <= row.q <= 1.0
    assert len(row.fp) == 32
    assert len(row.rh) == 6  # 8 tokens, window 3
    assert row.bpe >= row.n  # pieces >= words


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [(1, b"hello world", "text/plain", None, None, 3500)],
        "media_id long, payload binary, mime string, width int, height int, duration_ms long",
    )
    feats = extract_features(media, decoder=fake_image_decoder).collect()
    assert len(feats) == 1
    assert feats[0].decode_ok and len(feats[0].feat) == 8
    assert abs(sum(feats[0].feat) - 1.0) < 1e-6
    # stub decoder raises clearly
    with pytest.raises(Exception):
        extract_features(media, decoder=not_implemented_decoder).collect()
    # frame sampling plan is metadata-only
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert len(frames) == 4  # 0,1000,2000,3000


def test_decoder_failure_marks_row(spark):
    def flaky(payload, mime):
        raise ValueError("bad bytes")

    media = spark.createDataFrame(
        [(1, b"x", "image/png", None, None, None)],
        "media_id long, payload binary, mime string, width int, height int, duration_ms long",
    )
    row = extract_features(media, decoder=flaky).collect()[0]
    assert row.decode_ok is False and row.feat is None


def test_embedding_near_dups_lsh_vs_exact_on_planted(spark):
    # planted near-dups: 40 base vectors + a jittered copy of each
    # (cos >> 0.9), plus the bases themselves pairwise ~orthogonal.
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        w = v + 0.05 * rng.randn(64)
        w /= np.linalg.norm(w)
        rows.append((1000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = SIM.embedding_near_dups(emb, threshold=0.9).collect()
    exact_set = {(r.id_a, r.id_b) for r in exact}
    assert len(exact_set) == 40  # every planted pair found


def test_ivf_probe_all_equals_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in SIM.brute_force_topk(emb, queries, k=5).collect()}
    # probing every cell degenerates to exhaustive search
    ivf_all = {(r.query_id, r.rank): r.neighbor_id
               for r in SIM.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=8).collect()}
    assert ivf_all == exact

    approx = SIM.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3).collect()
    exact_set = set(exact.values())
    recall = len({r.neighbor_id for r in approx} & exact_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall {recall}"


def test_ivf_persisted_index_roundtrip_equals_brute_force(spark, tmp_path):
    """The standing-service flow: ivf_index trains + assigns ONCE,
    both tables persist to parquet, and ivf_topk_indexed against the
    READ-BACK index at probe-all equals brute force bit-for-bit
    (doubles round-trip exactly through parquet). A lower n_probe
    against the same stored index keeps bounded recall."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    assignments, centroids = SIM.ivf_index(emb, n_cells=8)
    a_path, c_path = str(tmp_path / "assign"), str(tmp_path / "cents")
    assignments.write.parquet(a_path)
    centroids.write.parquet(c_path)
    a2, c2 = spark.read.parquet(a_path), spark.read.parquet(c_path)

    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in SIM.brute_force_topk(emb, queries, k=5).collect()}
    stored_all = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.ivf_topk_indexed(a2, c2, queries, k=5, n_probe=8).collect()
    }
    assert stored_all == exact

    approx = SIM.ivf_topk_indexed(a2, c2, queries, k=5, n_probe=3).collect()
    exact_set = set(exact.values())
    recall = len({r.neighbor_id for r in approx} & exact_set) / len(exact_set)
    assert recall >= 0.5, f"stored-index IVF recall {recall}"


def _simhash64_col(text, ngram=2, bits=63):
    """Reference model of ``simhash64_frame``: the signature as one
    column expression, a per-bit majority vote over the xxhash64
    gram hashes (NULL text treated as '')."""
    feats = F.transform(
        DD.token_ngrams(F.coalesce(text, F.lit("")), ngram), lambda g: F.xxhash64(g)
    )
    out = F.lit(0)
    for i in range(bits):
        ones = F.size(F.filter(feats, lambda h: h.bitwiseAND(F.lit(1 << i)) != 0))
        out = out.bitwiseOR(
            F.when(ones * 2 > F.size(feats), F.lit(1 << i)).otherwise(F.lit(0))
        )
    return out


def test_simhash_null_text_keeps_row_both_forms(spark):
    """NULL text coalesces to '': the frame form must not drop the id
    (explode of a NULL gram array would), and it must agree with the
    column-expression model on every signature (ADVICE r2)."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real text here")], "doc_id int, text string"
    )
    frame = {r.doc_id: r.simhash for r in DD.simhash64_frame(df, "doc_id", "text").collect()}
    col = {
        r.doc_id: r.sh
        for r in df.select("doc_id", _simhash64_col(F.col("text")).alias("sh")).collect()
    }
    assert set(frame) == {1, 2, 3}  # NULL-text id 1 keeps a signature row
    assert frame == col             # and the two forms agree, incl. NULL == ''
    assert frame[1] == frame[2]

def test_jaccard_max_df_stop_gram_guard(spark):
    # VERDICT r3 item 6: a shingle shared by ALL docs must not blow up
    # the inverted-index self-join; with max_df set it is excluded from
    # candidate generation but its intersection contribution is added
    # back, so emitted scores equal the uncapped exact scores.
    rows = [
        # every doc contains "common gram one"; pairs also share rare grams
        (1, "common gram one alpha beta gamma", "x"),
        (2, "common gram one alpha beta gamma", "x"),
        (3, "common gram one alpha beta delta", "x"),
        (4, "common gram one zz yy xx ww vv uu", "x"),
        (5, "common gram one qq rr ss tt vv uu", "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.jaccard_pairs(
            df, "doc_id", "text", ["blk"], threshold=0.05
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.jaccard_pairs(
            df, "doc_id", "text", ["blk"], threshold=0.05, max_df=0.9
        ).collect()
    }
    # every emitted pair carries the EXACT (uncapped) score, and every
    # pair sharing >=1 rare gram is found; pairs sharing only the stop
    # gram ((1,4) etc.) are the documented recall caveat.
    assert set(capped) <= set(exact)
    for p, j in capped.items():
        assert j == exact[p]
    for p in [(1, 2), (1, 3), (2, 3)]:
        assert p in capped and capped[p] == exact[p]
    assert capped[(1, 2)] == 1.0


def test_jaccard_max_df_only_stop_pairs_documented_miss(spark):
    # The documented recall caveat: a pair sharing ONLY stop grams is
    # not emitted under max_df (it IS emitted without the cap).
    rows = [
        (1, "shared gram here", "x"),
        (2, "shared gram here", "x"),
        (3, "shared gram here aa bb cc dd ee ff gg hh ii jj kk", "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    exact = {
        (r.id_a, r.id_b)
        for r in DD.jaccard_pairs(df, "doc_id", "text", ["blk"], threshold=0.05).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in DD.jaccard_pairs(
            df, "doc_id", "text", ["blk"], threshold=0.05, max_df=0.9
        ).collect()
    }
    assert (1, 2) in exact and (1, 2) not in capped


def _ppm_bytes(w, h, pixels):
    # P6 with a comment line, maxval 255; pixels = flat RGB bytes
    return b"P6\n# test fixture\n" + f"{w} {h}\n255\n".encode() + bytes(pixels)


def _bmp_bytes(w, h, rows_rgb):
    # minimal uncompressed 24-bit BMP, bottom-up; rows_rgb = list of
    # rows (top to bottom), each a list of (r,g,b)
    row_bytes = (w * 3 + 3) & ~3
    pixel_data = b""
    for row in reversed(rows_rgb):  # bottom-up storage
        rb = b"".join(bytes((b, g, r)) for (r, g, b) in row)  # BGR
        pixel_data += rb + b"\x00" * (row_bytes - len(rb))
    header_size = 14 + 40
    total = header_size + len(pixel_data)
    bmp = b"BM" + total.to_bytes(4, "little") + b"\x00\x00\x00\x00"
    bmp += header_size.to_bytes(4, "little")
    bmp += (40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
    bmp += h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
    bmp += (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
    bmp += len(pixel_data).to_bytes(4, "little") + b"\x00" * 16
    return bmp + pixel_data


def test_image_decoder_ppm_and_bmp():
    from fhc_rco_etl_scalable_spark.operators.multimodal import image_decoder

    # 2x1 PPM: red, blue
    ppm = _ppm_bytes(2, 1, [255, 0, 0, 0, 0, 255])
    w, h, c, m0, m1, m2, mean, std = image_decoder(ppm, "image/x-portable-pixmap")
    assert (w, h, c) == (2.0, 1.0, 3.0)
    assert (m0, m1, m2) == (127.5, 0.0, 127.5)  # mean R, G, B

    # 2x2 BMP, distinct corners; row padding exercised (2*3=6 -> pad 8)
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    bmp = _bmp_bytes(2, 2, rows)
    w, h, c, m0, m1, m2, mean, std = image_decoder(bmp, "image/bmp")
    assert (w, h, c) == (2.0, 2.0, 3.0)
    assert m0 == (255 + 0 + 0 + 255) / 4  # mean R over 4 px
    assert m1 == (0 + 255 + 0 + 255) / 4
    assert m2 == (0 + 0 + 255 + 255) / 4

    # grayscale P5
    p5 = b"P5\n2 1\n255\n" + bytes([10, 30])
    w, h, c, m0, m1, m2, mean, std = image_decoder(p5, "image/x-portable-graymap")
    assert (w, h, c, mean) == (2.0, 1.0, 1.0, 20.0)


def test_extract_features_with_real_decoder(spark):
    from fhc_rco_etl_scalable_spark.operators.multimodal import image_decoder

    ppm = _ppm_bytes(2, 1, [255, 0, 0, 0, 0, 255])
    media = spark.createDataFrame(
        [(1, bytearray(ppm), "image/x-portable-pixmap", 2, 1, None),
         (2, bytearray(b"\x89PNG not supported"), "image/png", None, None, None)],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in extract_features(media, decoder=image_decoder).collect()}
    assert got[1].decode_ok and got[1].feat[:3] == [2.0, 1.0, 3.0]
    assert not got[2].decode_ok and got[2].feat is None  # graceful per-row failure


def test_connected_components_transitive_chain(spark):
    # A-B, B-C must collapse into one cluster though A-C was never a
    # pair; D-E separate; F is a singleton via dedup_clusters.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 3)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in DD.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[30] == 1
    assert comp[10] == comp[11] == 10

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 30, 99]], "doc_id long"
    )
    out = {r.id: r for r in DD.dedup_clusters(docs, pairs, "doc_id").collect()}
    assert out[99].component == 99 and out[99].cluster_size == 1 and out[99].keep
    assert out[1].keep and not out[2].keep and not out[30].keep
    assert out[1].cluster_size == 4


def test_connected_components_long_path_converges(spark):
    # a 12-node path needs multiple propagation rounds (diameter 11)
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in DD.connected_components(pairs).collect()}
    assert set(comp.values()) == {0} and len(comp) == n


def _wav_bytes(rate, samples_i16, channels=1):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples_i16)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def test_audio_decoder_wav():
    from fhc_rco_etl_scalable_spark.operators.multimodal import audio_decoder

    # 4 samples at 8 kHz: +16384, -16384, +16384, -16384 (0.5 amplitude
    # square) -> rms 0.5, zcr 1.0, duration 0.5 ms
    wav = _wav_bytes(8000, [16384, -16384, 16384, -16384])
    ch, rate, dur, rms, zcr, peak, mean, std = audio_decoder(wav, "audio/wav")
    assert (ch, rate) == (1.0, 8000.0)
    assert abs(dur - 0.5) < 1e-9
    assert abs(rms - 0.5) < 1e-9 and abs(peak - 0.5) < 1e-9
    assert zcr == 1.0 and mean == 0.0

    # unsupported: mp3 magic raises -> decode_ok False downstream
    import pytest as _pytest

    with _pytest.raises(ValueError):
        audio_decoder(b"ID3\x03\x00junk", "audio/mpeg")


def test_deterministic_sample_and_split_consistency(spark):
    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    s1 = {r.doc_id for r in DD.deterministic_sample(docs, "doc_id", 0.3).collect()}
    s2 = {r.doc_id for r in DD.deterministic_sample(docs, "doc_id", 0.3).collect()}
    assert s1 == s2  # reproducible
    assert 0.25 < len(s1) / 2000 < 0.35  # near the target fraction
    # monotone: a 10% sample is a subset of the 30% sample (same salt)
    s_small = {r.doc_id for r in DD.deterministic_sample(docs, "doc_id", 0.1).collect()}
    assert s_small <= s1

    split = {r.doc_id: r.split for r in DD.stratified_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    from collections import Counter

    c = Counter(split.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]
    assert sum(c.values()) == 2000  # weights sum to 1 -> everyone labeled


def test_jaccard_max_df_is_per_block(spark):
    # A gram saturating ONE block must be capped there even when its
    # global document fraction is small (the O(df^2) hot-spot is the
    # per-(block, gram) posting list).
    rows = []
    # block 'hot': every doc shares "shared gram here" + one rare gram
    for i in range(8):
        rows.append((i, f"shared gram here uniq{i} tail{i} word{i}", "hot"))
    # block 'cold': enough docs that the hot gram's GLOBAL df is <50%
    for i in range(100, 140):
        rows.append((i, f"cold text number{i} other{i} things{i}", "cold"))
    df = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.jaccard_pairs(df, "doc_id", "text", ["blk"], threshold=0.01).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.jaccard_pairs(
            df, "doc_id", "text", ["blk"], threshold=0.01, max_df=0.5
        ).collect()
    }
    # every emitted score exact; the hot-block pairs share ONLY the
    # saturating gram, so the per-block cap excludes them (global df of
    # that gram is 8/48 < 0.5 — a global cap would NOT have fired).
    for p, j in capped.items():
        assert j == exact[p]
    hot_pairs = [p for p in exact if p[0] < 100 and p[1] < 100]
    assert hot_pairs and all(p not in capped for p in hot_pairs)


def test_connected_components_raises_on_non_convergence(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iterations=2)


def test_connected_components_star_chain(spark):
    # VERDICT r4 item 7: a 200-node chain (diameter 199) defeats
    # diameter-bounded propagation at max_iterations=50 but the
    # large-star/small-star variant converges in O(log n) rounds.
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = {
        r.id: r.component
        for r in DD.connected_components(pairs, algorithm="star").collect()
    }
    assert len(comp) == n and set(comp.values()) == {0}


def test_connected_components_star_matches_propagation(spark):
    # both algorithms must produce identical min-id component labels
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 3), (40, 41), (41, 42), (42, 40), (7, 7)],
        "id_a long, id_b long",
    )
    prop = {r.id: r.component for r in DD.connected_components(pairs).collect()}
    star = {
        r.id: r.component
        for r in DD.connected_components(pairs, algorithm="star").collect()
    }
    assert star == prop


def test_stratified_split_thirds_full_coverage(spark):
    docs = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    out = DD.stratified_split(docs, "doc_id", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert out.filter(F.col("split").isNull()).count() == 0


def test_pack_sequences_bins(spark):
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 200), (4, 900), (5, 50)],
        "doc_id long, n_tokens int",
    )
    out = {r.doc_id: r.bin for r in DD.pack_sequences(
        docs, "doc_id", "n_tokens", budget=512, allow_global=True).collect()}
    # exclusive running sums: 0,100,400,600,1500 -> bins 0,0,0,1,2
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


def test_pack_sequences_global_requires_opt_in(spark):
    # VERDICT r4 item 6: the unpartitioned path is one global window
    # (single task) — must be an explicit choice, never a silent default.
    docs = spark.createDataFrame([(1, 100)], "doc_id long, n_tokens int")
    with pytest.raises(ValueError, match="allow_global"):
        DD.pack_sequences(docs, "doc_id", "n_tokens", budget=512)


def test_negative_sample_skip_self_and_model(spark):
    """dense_index is a bijection onto 0..n-1; negatives never equal
    their anchor; the draw matches a direct python model of the same
    arithmetic (non-contiguous ids exercise the bucket offsets)."""
    ids = [3, 10, 64, 65, 129, 1000, 1001, 7]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ix = {
        r["doc_id"]: r["__i"]
        for r in DD.dense_index(docs, "doc_id").collect()
    }
    assert sorted(ix.values()) == list(range(len(ids)))
    inv = {v: k for k, v in ix.items()}
    out = DD.negative_sample(docs, "doc_id", k=3).collect()
    assert len(out) == 3 * len(ids)
    n = len(ids)
    for r in out:
        assert r.neg_id != r.doc_id
        i = ix[r.doc_id]
        j = (i * 2654435761 + r.neg_rank * 40503 + 7) % (n - 1)
        assert r.neg_id == inv[j + 1 if j >= i else j]


def test_negative_sample_draw_exact_past_int64(spark):
    """VERDICT r10 #5: the draw index must be exact for corpora past
    2^31 rows, where the naive ``i * mult_a`` product overflows int64.
    Evaluate the production expression on synthetic (i, rank, n) rows
    with n > 2^31 (and one near 2^62) against Python big-int truth."""
    import pyspark.sql.functions as SF

    a, b, s = 2654435761, 40503, 7
    cases = []
    for n in (2**31 + 101, 2**40 + 7, 2**62 - 57):
        for i in (0, 1, n // 3, n - 2, n - 1):
            for t in (0, 3):
                cases.append((i, t, n))
    df = spark.createDataFrame(cases, "i long, t long, n long")
    out = df.withColumn(
        "j", DD._draw_index(SF.col("i"), SF.col("t"), SF.col("n") - 1, a, b, s)
    ).collect()
    for r in out:
        assert r.j == (r.i * a + r.t * b + s) % (r.n - 1), (r.i, r.t, r.n)


def test_negative_sample_md5_decorrelated_and_uniform(spark):
    """VERDICT r11 #5: method='md5' draws are (a) model-exact against
    a direct hashlib transcription, (b) chi-square-uniform over the
    target space on a 10k-draw fixture, and (c) genuinely
    decorrelated — unlike the affine mode, per-anchor draws form no
    shared arithmetic progression and anchors don't share negative
    sets."""
    import hashlib

    n = 2500
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    out = DD.negative_sample(docs, "doc_id", k=4, method="md5").collect()
    assert len(out) == 4 * n

    # (a) model-exact: range(n) dense-indexes bucket-major; rebuild it
    ix = {
        r["doc_id"]: r["__i"] for r in DD.dense_index(docs, "doc_id").collect()
    }
    inv = {v: k for k, v in ix.items()}
    for r in out[:200]:
        i = ix[r.doc_id]
        h = hashlib.md5(f"negs|7|{i}|{r.neg_rank}".encode()).hexdigest()
        j = int(h[:15], 16) % (n - 1)
        assert r.neg_id == inv[j + 1 if j >= i else j]

    # (b) uniformity: 10k draws into 50 buckets of the target space,
    # chi2 with 49 dof (mean 49, sd ~9.9) — 100 is a ~5-sigma bound.
    buckets = [0] * 50
    for r in out:
        buckets[ix[r.neg_id] * 50 // n] += 1
    exp = len(out) / 50
    chi2 = sum((o - exp) ** 2 / exp for o in buckets)
    assert chi2 < 100, chi2

    # (c) decorrelation: the affine mode gives every anchor the SAME
    # index stride between consecutive ranks; md5 strides must spread.
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.doc_id, {})[r.neg_rank] = ix[r.neg_id]
    md5_strides = {
        (d[1] - d[0]) % (n - 1)
        for d in by_anchor.values()
    }
    assert len(md5_strides) > n // 10
    aff = DD.negative_sample(docs, "doc_id", k=2).collect()
    aff_by_anchor = {}
    for r in aff:
        aff_by_anchor.setdefault(r.doc_id, {})[r.neg_rank] = r.neg_id
    # affine: stride in INDEX space is constant; spot-check via the
    # draw model rather than neg_id (skip-self perturbs id space).
    strides = set()
    for doc, d in list(aff_by_anchor.items())[:300]:
        i = ix[doc]
        j0 = (i * 2654435761 + 0 * 40503 + 7) % (n - 1)
        j1 = (i * 2654435761 + 1 * 40503 + 7) % (n - 1)
        strides.add((j1 - j0) % (n - 1))
    assert strides == {40503 % (n - 1)}


def test_negative_sample_rejects_tiny_corpus(spark):
    """ADVICE r10: n < 2 used to mod-by-zero into NULLs and a silently
    empty result; now the in-plan guard raises at execution."""
    from pyspark.errors import PySparkException

    one = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(PySparkException, match=">= 2 rows"):
        DD.negative_sample(one, "doc_id", k=2).collect()


def test_stratified_split_validates_weights(spark):
    # ADVICE r4: empty weights previously crashed with AttributeError;
    # weights summing past 1 silently broke the NULL-holdout contract.
    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="non-empty"):
        DD.stratified_split(docs, "doc_id", {})
    with pytest.raises(ValueError, match="> 1"):
        DD.stratified_split(docs, "doc_id", {"a": 0.8, "b": 0.4})
    with pytest.raises(ValueError, match="negative"):
        DD.stratified_split(docs, "doc_id", {"a": -0.1, "b": 0.5})


def test_scrub_pii():
    from fhc_rco_etl_scalable_spark.functions.text import scrub_pii
    import pyspark.sql.functions as SF  # noqa: F401

    # column-level check via a tiny local frame in the shared session
    # is covered by the pii_scrub oracle; here assert pattern behavior
    import re
    from fhc_rco_etl_scalable_spark.functions.text import PII_PATTERNS

    s = "mail me a@b.co or visit https://x.y/z?q=1 call 12345678 ok 123"
    for pat in PII_PATTERNS.values():
        s = re.sub(pat, " ", s)
    assert "a@b.co" not in s and "https" not in s and "12345678" not in s
    assert "123" in s  # short digit runs survive


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc that quotes >= min_overlap n-grams of an eval doc is
    flagged with the right evidence count; clean docs are not."""
    from fhc_rco_etl_scalable_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim 8-token quote -> six 3-grams shared
            (1, "prefix words the quick brown fox jumps over the lazy end"),
            # one shared 3-gram only -> below min_overlap
            (2, "completely unrelated except the lazy dog"),
            # nothing shared
            (3, "entirely different text with zero overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = decontaminate(corpus, bench, "doc_id", "text", ngram=3, min_overlap=2)
    rows = {(r.doc_id, r.bench_id): r.n_shared for r in out.collect()}
    assert set(rows) == {(1, 100)}
    assert rows[(1, 100)] == 6

    # plan shape: benchmark side broadcast, no all-pairs cartesian
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_empty_benchmark(spark):
    from fhc_rco_etl_scalable_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    bench = corpus.filter("doc_id < 0")
    assert decontaminate(corpus, bench, "doc_id", "text").count() == 0


def test_repetition_signals_values(spark):
    from fhc_rco_etl_scalable_spark.functions.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # no repetition
            (2, "x y x y x y x y"),          # total 2-gram repetition
            (3, "one two three one two three seven eight"),  # partial
        ],
        "doc_id long, text string",
    )
    sig = repetition_signals("text")
    rows = {r.doc_id: r.s for r in df.select("doc_id", sig.alias("s")).collect()}
    assert rows[1].dup_word_frac == 0.0
    assert rows[1].dup_ngram_char_frac == 0.0
    # doc 2: 8 tokens, 2 distinct -> 6/8 repeats
    assert abs(rows[2].dup_word_frac - 0.75) < 1e-12
    # doc 2: "x y" occurs 4 times (len 3) -> 12 chars / 15 chars
    assert abs(rows[2].top_ngram_char_frac - 12 / 15) < 1e-12
    assert rows[3].dup_word_frac == 3 / 8

    # zero-shuffle plan: the counters are per-row facts
    plan = df.select(sig.alias("s"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_ranks_exact_match_first(spark):
    from fhc_rco_etl_scalable_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark shuffle partition exchange"),
            (2, "quick brown fox"),
            (3, "spark spark spark shuffle shuffle join scan"),
            (4, "unrelated words entirely different"),
            (5, "a very long document " + "padding " * 50 + "spark"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, "doc_id", "text", "spark shuffle", k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    # doc 3 has the highest tf for both terms; doc 5's single hit is
    # length-penalized below doc 1's two short-doc hits
    assert out[0].doc_id == 3
    assert out[1].doc_id == 1
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


def test_bm25_empty_query_raises(spark):
    import pytest

    from fhc_rco_etl_scalable_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_topk(df, "doc_id", "text", "   ")


def test_ivfpq_approximate_recall_bounded(spark):
    """IVF-PQ with real pruning (n_probe < n_cells, small refine) must
    keep high recall vs brute force on the fixture embeddings."""
    import os

    from fhc_rco_etl_scalable_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    queries = emb.filter("vec_id < 8")
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivfpq_topk(
        emb, queries, k=5, n_cells=8, n_probe=4, m_subvectors=8, n_codes=16, refine=4
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall  # half the cells pruned + PQ ranking noise


def test_ivfpq_probe_all_refine_all_is_exact(spark):
    import os

    from fhc_rco_etl_scalable_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    queries = emb.filter("vec_id < 5")
    exact = sorted(map(tuple, brute_force_topk(emb, queries, k=5).collect()))
    full = sorted(
        map(tuple, ivfpq_topk(emb, queries, k=5, n_cells=8, n_probe=8, refine=10**6).collect())
    )
    assert exact == full


def test_resize_images_roundtrip(spark):
    """Binary->binary transform: resize a 4x2 PPM to 2x1, decode the
    output payload, and check both dimensions and nearest-neighbor
    pixel selection; undecodable payloads pass through flagged."""
    from fhc_rco_etl_scalable_spark.operators.multimodal import (
        _decode_netpbm,
        resize_images,
    )

    # 4x2 image: top row red/red/green/green, bottom blue/blue/white/white
    px = []
    for row in ([(255, 0, 0)] * 2 + [(0, 255, 0)] * 2,
                [(0, 0, 255)] * 2 + [(255, 255, 255)] * 2):
        for r, g, b in row:
            px += [r, g, b]
    ppm = _ppm_bytes(4, 2, px)
    media = spark.createDataFrame(
        [(1, bytearray(ppm), "image/x-portable-pixmap", 4, 2, None),
         (2, bytearray(b"garbage"), "application/octet-stream", 640, 480, None)],
        "media_id long, payload binary, mime string, width int, height int, duration_ms long",
    )
    out = {r.media_id: r for r in resize_images(media, 2, 1).collect()}
    assert out[1].resize_ok and (out[1].width, out[1].height) == (2, 1)
    assert out[1].mime == "image/x-portable-pixmap"  # matches new payload
    img = _decode_netpbm(bytes(out[1].payload))
    assert img.shape == (1, 2, 3)
    # nearest-neighbor picks columns 0 and 2 of the top row: red, green
    assert list(img[0, 0]) == [255, 0, 0] and list(img[0, 1]) == [0, 255, 0]
    # failed rows pass through UNTOUCHED: payload, mime, and the
    # original metadata (no nulling of real dimensions)
    assert not out[2].resize_ok and bytes(out[2].payload) == b"garbage"
    assert (out[2].width, out[2].height) == (640, 480)
    assert out[2].mime == "application/octet-stream"


def test_audio_spectrogram_band_energy():
    """A pure tone must concentrate energy in its own band: with
    frame=1024 a 1 kHz sine at 8 kHz is rfft bin freq/rate*frame = 128;
    bands split bins 1..512 into 16 groups of 32, so the tone's band is
    (128-1)*16//512 = 3 — and it must dominate every other band."""
    import math

    from fhc_rco_etl_scalable_spark.operators.multimodal import (
        audio_spectrogram_decoder,
    )

    rate, n = 8000, 4096
    tone = [int(20000 * math.sin(2 * math.pi * 1000 * t / rate)) for t in range(n)]
    bands = audio_spectrogram_decoder(_wav_bytes(rate, tone), "audio/wav", n_bands=16)
    assert len(bands) == 16
    tone_bin = 1000 * 1024 // rate
    assert bands.index(max(bands)) == (tone_bin - 1) * 16 // 512
    assert max(bands) > sorted(bands)[-2] + 1.0  # >=10x the runner-up


def test_span_dedup_removes_repeated_chunks(spark):
    from fhc_rco_etl_scalable_spark.operators import dedup as DD

    # doc 1 owns chunk A; doc 2 repeats A then contributes B; doc 3 is
    # A twice (fully duplicated). 2-word spans for a tight truth table.
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # spans: "a b", "c d"
            (2, "a b x y"),          # "a b" dup of doc1 -> keep "x y"
            (3, "a b a b"),          # both spans dup -> ''
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text_dedup, r.n_spans_kept)
        for r in DD.span_dedup(docs, "doc_id", "text", span_words=2).collect()
    }
    assert out[1] == ("a b c d", 2)   # first arrival keeps everything
    assert out[2] == ("x y", 1)       # repeated span dropped, rest kept
    assert out[3] == ("", 0)          # fully-duplicated doc survives as row


def test_span_dedup_first_arrival_is_positional(spark):
    from fhc_rco_etl_scalable_spark.operators import dedup as DD

    # Within one doc the FIRST occurrence survives, later ones drop.
    docs = spark.createDataFrame(
        [(7, "p q z z p q")], "doc_id long, text string"
    )
    row = DD.span_dedup(docs, "doc_id", "text", span_words=2).first()
    assert row.text_dedup == "p q z z"
    assert row.n_spans_kept == 2


def test_domain_mixture_caps_and_balances(spark):
    from fhc_rco_etl_scalable_spark.operators import dedup as DD

    # Domain 'big' has 100 docs, 'small' has 4; budget 40 => share 20
    # per domain: big rate=20%, small rate capped at 100%.
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = DD.domain_mixture(df, "source", "doc_id", total_budget=40)
    by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert by_src["small"] == 4                      # rate capped at 1
    assert 10 <= by_src.get("big", 0) <= 30          # ~20 expected, hash noise
    rates = {r.source: r.rate_ppm for r in out.select("source", "rate_ppm").distinct().collect()}
    assert rates["small"] == 1_000_000 and rates["big"] == 200_000
    # deterministic: same selection on re-run
    again = {r.doc_id for r in DD.domain_mixture(df, "source", "doc_id", total_budget=40).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_fuzzy_self_match_equals_brute_force(spark):
    from fhc_rco_etl_scalable_spark.operators.fuzzy import fuzzy_self_match

    names = ["kitten", "sitten", "sittin", "sitting", "cat", "hat", "hats"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_self_match(df, "name", max_dist=1).collect()
    }

    def lev(a, b):  # textbook DP oracle
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (a, b, lev(a, b))
        for a in names
        for b in names
        if a < b and lev(a, b) <= 1
    }
    assert got == want  # length banding loses no true pair
    assert ("kitten", "sitten", 1) in got and ("hat", "hats", 1) in got


def test_fuzzy_join_attaches_matches(spark):
    from fhc_rco_etl_scalable_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [(1, "BRND-A1"), (2, "XYZ")], "id long, code string"
    )
    right = spark.createDataFrame(
        [("BRND-A1",), ("BRND-A2",), ("QQQQ",)], "canon string"
    )
    out = fuzzy_join(left, right, "code", "canon", max_dist=1)
    got = {(r.id, r.matched, r.dist) for r in out.collect()}
    assert got == {(1, "BRND-A1", 0), (1, "BRND-A2", 1)}


def test_fuzzy_join_tolerates_name_a_column_and_rejects_reserved(spark):
    # ADVICE r7 #3: a left frame already carrying a name_a column used
    # to hit an ambiguous-reference error (the old internal join name);
    # matched/dist are reserved outputs and must be rejected loudly.
    import pytest

    from fhc_rco_etl_scalable_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [(1, "BRND-A1", "whatever")], "id long, code string, name_a string"
    )
    right = spark.createDataFrame([("BRND-A2",)], "canon string")
    out = fuzzy_join(left, right, "code", "canon", max_dist=1)
    rows = out.collect()
    assert [(r.id, r.name_a, r.matched, r.dist) for r in rows] == [
        (1, "whatever", "BRND-A2", 1)
    ]
    clashing = left.withColumnRenamed("name_a", "dist")
    with pytest.raises(ValueError, match="reserved"):
        fuzzy_join(clashing, right, "code", "canon", max_dist=1)


def test_fuzzy_self_match_ignores_nulls(spark):
    from fhc_rco_etl_scalable_spark.operators.fuzzy import fuzzy_self_match

    df = spark.createDataFrame(
        [("abc",), (None,), ("abd",)], "name string"
    )
    got = {(r.name_a, r.name_b) for r in fuzzy_self_match(df, "name", 1).collect()}
    assert got == {("abc", "abd")}  # null rows drop, no null-pair rows


def test_weighted_sample_is_weighted_and_deterministic(spark):
    # Two weight classes: heavy rows (w=1000) must dominate a k=50
    # sample over light rows (w=1) despite equal population counts.
    rows = [(i, 1000.0) for i in range(100)] + [(1000 + i, 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out1 = {r.doc_id for r in DD.weighted_sample(df, "doc_id", "w", k=50).collect()}
    out2 = {r.doc_id for r in DD.weighted_sample(df, "doc_id", "w", k=50).collect()}
    assert out1 == out2                       # deterministic
    heavy = sum(1 for d in out1 if d < 1000)
    assert heavy >= 45                        # weight actually biases
    # plan shape: top-k must be TakeOrdered, not a global sort
    plan = DD.weighted_sample(df, "doc_id", "w", k=50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_margin_pairs_mines_planted_mutual_pairs(spark):
    # X = 10 near-orthogonal bases; Y = jittered copies (the planted
    # partner) plus one "hub" vector moderately close to everything.
    # Margin scoring must recover every planted pair mutually and not
    # pair anyone with the hub (high raw cosine to many, low margin).
    import numpy as np

    rng = np.random.RandomState(11)
    basis = np.linalg.qr(rng.randn(32, 32))[0][:10]
    xs, ys = [], []
    for i, b in enumerate(basis):
        xs.append((i, [float(v) for v in b]))
        w = b + 0.03 * rng.randn(32)
        ys.append((100 + i, [float(v) for v in (w / np.linalg.norm(w))]))
    hub = basis[:8].sum(axis=0)
    ys.append((999, [float(v) for v in (hub / np.linalg.norm(hub))]))
    X = spark.createDataFrame(xs, "vec_id long, embedding array<double>")
    Y = spark.createDataFrame(ys, "vec_id long, embedding array<double>")
    got = {
        (r.x_id, r.y_id): r.margin
        for r in SIM.margin_pairs(X, Y, "vec_id", "embedding", k=3).collect()
    }
    assert set(got) == {(i, 100 + i) for i in range(10)}  # all planted, no hub
    assert all(m > 1.0 for m in got.values())


def test_margin_pairs_empty_and_zero_norm_edges(spark):
    # empty y side: typed empty result, no crash at plan construction
    X = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    Y0 = X.filter("vec_id < 0")
    out = SIM.margin_pairs(X, Y0, "vec_id", "embedding", k=2)
    assert out.columns == ["x_id", "y_id", "margin"] and out.count() == 0
    # zero-norm vector: cos 0 against everything (never INT64_MIN), so
    # the planted parallel pair still wins cleanly
    X2 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    Y2 = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    rows = SIM.margin_pairs(X2, Y2, "vec_id", "embedding", k=2).collect()
    got = {(r.x_id, r.y_id) for r in rows}
    assert (1, 10) in got                      # the parallel pair survives
    assert all(abs(r.margin) < 1e6 for r in rows)  # no overflow garbage


def test_semantic_dedup_exact_and_clustered(spark):
    # planted duplicates: 30 ~orthogonal bases, each with a jittered
    # copy (cos >> 0.9). Exact config (n_assign == n_cells) must drop
    # exactly the higher-id copy of every planted pair; the n_assign=1
    # published scale path must keep precision (only true dups
    # removed) with high recall (dups co-cluster).
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    for i in range(30):
        v = rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        w = v + 0.05 * rng.randn(64)
        w /= np.linalg.norm(w)
        rows.append((1000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept_exact = {
        r.vec_id
        for r in SIM.semantic_dedup(
            emb, threshold=0.9, n_cells=8, n_assign=8
        ).collect()
    }
    assert kept_exact == set(range(30))  # every copy removed, bases kept
    kept_1 = {
        r.vec_id
        for r in SIM.semantic_dedup(
            emb, threshold=0.9, n_cells=8, n_assign=1
        ).collect()
    }
    # precision is exact by construction (pairs are verified with the
    # real cosine); recall = fraction of planted copies removed
    assert set(range(30)) <= kept_1  # no base falsely removed
    removed = 30 - (len(kept_1) - 30)
    assert removed / 30 >= 0.9, f"clustered dedup recall {removed / 30}"


def test_ngram_perplexity_separates_in_domain_text(spark):
    # train slice (doc_id%10==0) repeats a fixed phrase; held-out docs
    # repeating the same phrase must score a higher avg_logprob than a
    # doc of unseen tokens (scored purely by the backoff floor).
    from fhc_rco_etl_scalable_spark.operators.lm import bigram_logprob_score

    phrase = "the quick brown fox jumps over the lazy dog"
    rows = [(i * 10, phrase) for i in range(6)]          # train
    rows += [(1, phrase), (2, "zzz qqq www eee rrr ttt")]  # held-out
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_logprob_score(docs).collect()}
    assert set(got) == {1, 2}
    assert got[1].n_transitions == 8 and got[2].n_transitions == 5
    assert got[1].avg_logprob > got[2].avg_logprob + 1.0
    # in-domain transitions are bigram hits: logprob well above floor
    assert got[1].avg_logprob > -2.0


def test_canonicalize_url_rules(spark):
    from fhc_rco_etl_scalable_spark.functions.url import canonicalize_url

    cases = [
        ("HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1", "http://example.com/a/b?a=1&b=2"),
        ("http://example.com/a/b?b=2&a=1", "http://example.com/a/b?a=1&b=2"),
        ("https://Site.ORG:443/p?gclid=zz", "https://site.org/p"),
        ("https://site.org:8443/p", "https://site.org:8443/p"),  # non-default port kept
        ("http://h/x#frag", "http://h/x"),                        # fragment dropped
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_canonicalize_url_idempotent(spark):
    # canonical form is a fixed point: canon(canon(u)) == canon(u) for
    # a messy generated family (case x port x tracking x order x
    # trailing-slash variants).
    from fhc_rco_etl_scalable_spark.functions.url import canonicalize_url

    urls = []
    for scheme in ("http", "HTTPS"):
        for host in ("A.Example.com", "x.org:8080", "y.net:443"):
            for path in ("", "/p", "/p/q///"):
                for q in ("", "?b=2&a=1", "?utm_source=s&z=9", "?gclid=g"):
                    urls.append((f"{scheme}://{host}{path}{q}",))
    df = spark.createDataFrame(urls, "url string")
    once = df.select(canonicalize_url("url").alias("c1"))
    twice = once.select(
        "c1", canonicalize_url(F.col("c1")).alias("c2")
    ).collect()
    for r in twice:
        assert r.c1 == r.c2, (r.c1, r.c2)


def test_ngram_perplexity_edges(spark):
    # <2-token docs score no transitions; train docs never appear;
    # an all-unseen doc scores exactly the backoff floor ln(0.4/N).
    import math

    from fhc_rco_etl_scalable_spark.operators.lm import bigram_logprob_score

    rows = [(0, "a b a b a b"), (10, "a b a b"), (1, "x"), (2, "q1 q2 q3")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_logprob_score(docs).collect()}
    assert set(got) == {2}  # doc 1 has no transitions; 0/10 are train
    n_total = 10.0  # train tokens: 6 + 4
    floor = math.log(0.4 / n_total)
    assert got[2].n_transitions == 2
    assert abs(got[2].avg_logprob - round(floor, 6)) < 1e-9


def test_dsir_weights_separate_target_like_docs(spark):
    # target docs share a vocabulary; a held-out doc written in the
    # target vocabulary must outscore one written in the off-target
    # vocabulary (the DSIR selection property).
    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.operators.lm import dsir_logratio_score

    rows = [(i, "alpha beta gamma delta", "en") for i in range(10)]
    rows += [(100 + i, "uno dos tres cuatro", "es") for i in range(10)]
    rows += [(900, "alpha beta gamma", "xx"), (901, "uno dos tres", "xx")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r.avg_log_ratio
        for r in dsir_logratio_score(docs, target=F.col("lang") == "en").collect()
    }
    # the DSIR contract is the ORDERING of weights (resampling uses
    # relative exp(w)); absolute sign depends on the smoothing mass
    # (B=1024 buckets dominates tiny toy counts)
    assert got[900] > got[901] + 1.0
    assert max(got[i] for i in range(10)) > got[901]


def test_bpe_learns_and_segments_like_reference(spark):
    # Pin the greedy loop row-for-row against an independent in-test
    # reference on a toy corpus, and check apply-time invariants:
    # pieces concatenate back to word+EOW, and learned merges compress.
    from fhc_rco_etl_scalable_spark.operators.bpe import (
        EOW,
        apply_bpe,
        learn_bpe,
        segment_word,
    )

    corpus = [(i, "low low low lower lower newest newest newest widest") for i in range(3)]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    merges = learn_bpe(docs, n_merges=6, min_count=1)

    # independent reference (naive dict-based BPE)
    words = {}
    for _, t in corpus:
        for w in t.split():
            words[w] = words.get(w, 0) + 1
    seqs = {w: list(w) + [EOW] for w in words}
    want = []
    for _ in range(6):
        pw = {}
        for w, c in words.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pw[(a, b)] = pw.get((a, b), 0) + c
        top = max(pw.values())
        best = min(p for p, v in pw.items() if v == top)
        want.append(best)
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    out.append(s[i] + s[i + 1]); i += 2
                else:
                    out.append(s[i]); i += 1
            seqs[w] = out
    assert merges == want

    ranks = {p: i for i, p in enumerate(merges)}
    for w in words:
        pieces = segment_word(w, ranks)
        assert "".join(pieces) == w + EOW  # lossless
    out = {r.doc_id: r for r in apply_bpe(docs, merges).collect()}
    assert out[0].n_words == 9
    assert out[0].n_pieces < 9 * 6  # merges compress vs raw chars
    assert out[0].pieces_per_word == out[1].pieces_per_word


def test_substring_dedup_exactsubstr_semantics(spark):
    """ExactSubstr (Lee et al. 2022): any >=8-token substring occurring
    more than once in the corpus is removed from EVERY occurrence —
    cross-doc, within-doc (adjacent occurrences merge to one span),
    and straddling positions a fixed-chunk scheme would miss; short
    docs and unique text survive untouched."""
    from fhc_rco_etl_scalable_spark.operators.dedup import substring_dedup

    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 x3 {shared} x4"),           # shared run mid-doc
            (2, f"y1 {shared} y2 y3"),              # shared run, other offset
            (3, "p q r s t u v w p q r s t u v w"),  # within-doc repeat
            (4, "too short to matter"),              # < 8 tokens
            (5, "entirely unique text with plenty of tokens but no repeats"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in substring_dedup(docs, "doc_id", "text").collect()}
    assert out[1].cleaned_text == "x1 x2 x3 x4"
    assert (out[1].n_removed, out[1].n_spans) == (8, 1)
    assert out[2].cleaned_text == "y1 y2 y3"
    assert (out[2].n_removed, out[2].n_spans) == (8, 1)
    # the two adjacent within-doc occurrences merge into ONE span
    # covering the whole doc
    assert out[3].cleaned_text == ""
    assert (out[3].n_removed, out[3].n_spans) == (16, 1)
    assert out[4].cleaned_text == "too short to matter"
    assert (out[4].n_removed, out[4].n_spans) == (0, 0)
    assert out[5].n_removed == 0
    assert out[5].n_tokens == 10


def test_pagerank_integer_exact_tiny_graph(spark):
    """Integer-scaled PageRank on a hand-computable 3-node graph:
    A->B, A->C, B->A (C dangling — its mass leaks by contract).
    Two iterations, every value exact by integer arithmetic."""
    from fhc_rco_etl_scalable_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1)], "src long, dst long"
    )
    r = {row.node: row.rank for row in pagerank(edges, iterations=2).collect()}
    # iter1: mass A=10e6 (from B), B=C=5e6 (A's rank split 2 ways)
    #   r1 = {A: 10_000_000, B: 5_750_000, C: 5_750_000}
    # iter2: mass A=5_750_000, B=C=5_000_000
    assert r == {1: 6_387_500, 2: 5_750_000, 3: 5_750_000}


def test_triangle_count_hand_computed(spark):
    from fhc_rco_etl_scalable_spark.operators.graph import triangle_count

    # Triangle 1-2-3 plus pendant 3-4; duplicates, reversals and a
    # self-loop must all collapse away.
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (3, 4), (4, 4)],
        "src long, dst long",
    )
    row = triangle_count(edges, "src", "dst").first()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 4, 1)


def test_triangle_count_counts_each_triangle_once(spark):
    from fhc_rco_etl_scalable_spark.operators.graph import triangle_count

    # K4 has exactly 4 triangles.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4, "src long, dst long")
    row = triangle_count(edges, "src", "dst").first()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_triangle_count_orientations_agree(spark):
    """The degree-oriented census equals a brute-force Python census
    on a hub-heavy graph, where degree order and id order genuinely
    differ."""
    import itertools
    import random

    from fhc_rco_etl_scalable_spark.operators.graph import triangle_count

    rng = random.Random(42)
    # star hub 0 connected to everyone, plus random chords -> many
    # triangles through the hub, degrees far from id order.
    pairs = {(0, v) for v in range(1, 30)}
    while len(pairs) < 80:
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    row = triangle_count(edges, "src", "dst").first()
    nodes = {v for p in pairs for v in p}
    want = sum(
        1
        for a, b, c in itertools.combinations(sorted(nodes), 3)
        if {(a, b), (a, c), (b, c)} <= pairs
    )
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (
        len(nodes), len(pairs), want
    )
    assert want > 0


def test_neighbor_agg_hand_computed(spark):
    """Path 1-2-3 with features f(n)=n*10: node 2 sees {1,3} ->
    sum 40 mean 20; endpoints see only node 2 -> 20. Reversed
    duplicate edges must collapse first."""
    from fhc_rco_etl_scalable_spark.operators.graph import neighbor_agg

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "src long, dst long"
    )
    feats = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "node long, f long"
    )
    got = {
        r.node: (r.n_neighbors, r.nbr_sum, r.nbr_mean)
        for r in neighbor_agg(edges, "src", "dst", feats, "node", "f").collect()
    }
    assert got == {1: (1, 20, 20.0), 2: (2, 40, 20.0), 3: (1, 20, 20.0)}


def test_neighbor_agg_rounds_overflow_raises(spark):
    """The cross-round scaled multiply runs in DECIMAL(38,0) and
    RAISES when the quotient no longer fits int64 (ADVICE r11:
    plain long arithmetic silently wrapped at rounds>=3 with large
    scale*values), instead of nulling or wrapping."""
    import pytest as _pytest
    from fhc_rco_etl_scalable_spark.operators.graph import (
        neighbor_agg_rounds,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    big = spark.createDataFrame(
        [(n, 2**40) for n in (1, 2, 3)], "id long, v long"
    )
    with _pytest.raises(Exception, match="overflows int64"):
        neighbor_agg_rounds(
            edges, "src", "dst", big, "id", "v", rounds=3, scale=2**40
        ).collect()
    # sane budgets still work and keep the documented units:
    # round-2 feature = (sum * scale) div n, exactly.
    ok = neighbor_agg_rounds(
        edges, "src", "dst", big, "id", "v", rounds=2, scale=1000
    )
    got = {r.node: r.nbr_sum for r in ok.collect()}
    # each node's 2 neighbors had round-1 sum 2*2^40, scaled:
    # (2*2^40*1000) div 2 = 2^40*1000 per neighbor, twice.
    assert got == {n: 2 * (2**40) * 1000 for n in (1, 2, 3)}


def test_neighbor_agg_rounds_sum_overflow_raises(spark):
    """ADVICE r12: the PER-ROUND neighbor sum itself can exceed int64
    on a high-fan-in node even when every input feature fits — plain
    sum(long) wraps silently in non-ANSI Spark and the wrapped value
    would pass the cross-round guard. The decimal(38,0) sum must
    RAISE instead (node 1 has two 2^62 neighbors: sum = 2^63)."""
    import pytest as _pytest
    from fhc_rco_etl_scalable_spark.operators.graph import (
        neighbor_agg_rounds,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3)], "src long, dst long"
    )
    big = spark.createDataFrame(
        [(2, 2**62), (3, 2**62)], "id long, v long"
    )
    with _pytest.raises(Exception, match="overflows int64"):
        neighbor_agg_rounds(
            edges, "src", "dst", big, "id", "v", rounds=1, scale=1
        ).collect()
    # one step below the boundary is exact and fine
    ok_feats = spark.createDataFrame(
        [(2, 2**62 - 1), (3, 2**62 - 1)], "id long, v long"
    )
    got = {
        r.node: r.nbr_sum
        for r in neighbor_agg_rounds(
            edges, "src", "dst", ok_feats, "id", "v", rounds=1, scale=1
        ).collect()
    }
    assert got[1] == 2**63 - 2


def test_kcore_peels_pendant_and_cascades(spark):
    """K4 + pendant chain 4-5-6: round 1 drops 6 (deg 1), round 2
    drops 5 (its only surviving neighbor count fell to 1) — the
    cascade a single-pass degree filter would miss. Survivors: the
    K4, each at degree 3."""
    from fhc_rco_etl_scalable_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 6)], "src long, dst long"
    )
    got = {r.node: r.degree for r in kcore(edges, "src", "dst", k=2, rounds=2).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_converged_reaches_fixed_point(spark):
    """Path 1-2-3-4-5-6 + disjoint triangle at k=2: the path peels one
    layer from each end per round (3 changing rounds), the triangle is
    the fixed point; round 4 confirms. The fixed-round form at
    rounds=2 would still carry path remnants — convergence is the
    semantics under test."""
    from fhc_rco_etl_scalable_spark.operators.graph import kcore_converged

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    surv, rounds = kcore_converged(edges, "src", "dst", k=2)
    assert rounds == 4
    assert {r.node: r.degree for r in surv.collect()} == {10: 2, 11: 2, 12: 2}


def test_kcore_converged_cap_raises_loudly(spark):
    """max_rounds below the cascade length must raise, never silently
    return the partially-peeled graph as 'the core'."""
    import pytest as _pytest

    from fhc_rco_etl_scalable_spark.operators.graph import kcore_converged

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="max_rounds") as exc:
        kcore_converged(edges, "src", "dst", k=2, max_rounds=2)
    # ADVICE r11: the message must show the REAL last delta (a
    # genuinely falling pair), not the same count twice. Path P6 at
    # k=2 peels both endpoints per round: 5 -> 3 -> 1 edges, so after
    # 2 rounds the reported pair is 3 -> 1.
    assert "3 -> 1" in str(exc.value)


def test_pivot_wide_matches_api_pivot(spark):
    """pivot_wide's conditional-sum rewrite returns the identical
    frame as groupBy().pivot() with the same explicit list, for sum
    and count, including the empty-category column (NULL for sum,
    0 for count) and values outside the list being dropped."""
    from fhc_rco_etl_scalable_spark.operators.aggregate import pivot_wide

    df = spark.createDataFrame(
        [
            (1, "a", 10.0), (1, "a", 5.0), (1, "b", 2.0),
            (2, "b", 7.0), (2, "zz", 99.0),   # zz outside the list
        ],
        "k long, cat string, v double",
    )
    cats = ["a", "b", "c"]   # c has no rows anywhere

    def canon(d):
        return sorted(map(tuple, d.collect()))

    api_sum = df.groupBy("k").pivot("cat", cats).agg(F.sum("v"))
    got_sum = pivot_wide(df, ["k"], "cat", cats, "v", agg="sum")
    assert canon(got_sum) == canon(api_sum)
    assert canon(got_sum) == [(1, 15.0, 2.0, None), (2, None, 7.0, None)]

    # count keeps SQL count(CASE...) semantics: 0 for an empty
    # category (the API pivot returns NULL there — documented
    # divergence, PivotFirst has no partial to lift).
    got_cnt = pivot_wide(df, ["k"], "cat", cats, "v", agg="count")
    assert canon(got_cnt) == [(1, 2, 1, 0), (2, 0, 1, 0)]

    # suffix naming + duplicate-value guard
    assert pivot_wide(df, ["k"], "cat", ["a"], "v", suffix="_t").columns == [
        "k", "a_t",
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="distinct"):
        pivot_wide(df, ["k"], "cat", ["a", "a"], "v")


def test_pivot_wide_multi_matches_api_and_single(spark):
    """pivot_wide_multi == pivot(cat, values).agg(sum(v), max(w)) in
    one exchange; column order is value-major like the API, and each
    measure's cells equal the corresponding single-measure
    pivot_wide."""
    from fhc_rco_etl_scalable_spark.operators.aggregate import (
        pivot_wide,
        pivot_wide_multi,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 10.0, 5), (1, "a", 2.0, 9), (1, "b", 3.0, 1),
            (2, "b", 7.0, 4),
        ],
        "k long, cat string, v double, w long",
    )
    cats = ["a", "b"]
    got = pivot_wide_multi(
        df, ["k"], "cat", cats, [("vsum", "sum", "v"), ("wmax", "max", "w")]
    )
    api = df.groupBy("k").pivot("cat", cats).agg(
        F.sum("v").alias("vsum"), F.max("w").alias("wmax")
    )
    assert got.columns == ["k", "a_vsum", "a_wmax", "b_vsum", "b_wmax"]
    assert got.columns == api.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, api.collect())
    )
    # each measure's slice equals the single-measure operator
    single = pivot_wide(df, ["k"], "cat", cats, "v", agg="sum",
                        suffix="_vsum")
    assert sorted(
        map(tuple, got.select("k", "a_vsum", "b_vsum").collect())
    ) == sorted(map(tuple, single.collect()))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="out_names"):
        pivot_wide_multi(df, ["k"], "cat", cats,
                         [("x", "sum", "v"), ("x", "max", "w")])
    with _pytest.raises(ValueError, match="non-empty"):
        pivot_wide_multi(df, ["k"], "cat", cats, [])


def test_pivot_name_collisions_fail_fast(spark):
    """ADVICE r12: distinct values/out_names can still render to
    colliding OUTPUT column names — values with underscores crossed
    with measure names ('a','a_b') x ('b_c','c') both emit 'a_b_c' —
    or land on a group column. Both pivots raise at call time instead
    of emitting a duplicate-named frame that only breaks at the
    caller's next select."""
    import pytest as _pytest
    from fhc_rco_etl_scalable_spark.operators.aggregate import (
        pivot_wide,
        pivot_wide_multi,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0, 2), (1, "a_b", 3.0, 4)],
        "k long, cat string, v double, w long",
    )
    with _pytest.raises(ValueError, match="collide"):
        pivot_wide_multi(
            df, ["k"], "cat", ["a", "a_b"],
            [("b_c", "sum", "v"), ("c", "max", "w")],
        )
    # distinct values rendering to the same string column name
    df2 = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0)], "k long, cat long, v double"
    )
    with _pytest.raises(ValueError, match="collide"):
        pivot_wide(df2, ["k"], "cat", [1, "1"], "v")
    # output name landing on a group column
    with _pytest.raises(ValueError, match="group_cols"):
        pivot_wide(df, ["k"], "cat", ["k"], "v")
    with _pytest.raises(ValueError, match="group_cols"):
        pivot_wide_multi(df, ["k_x"], "cat", ["k"],
                         [("x", "sum", "v")])
    # non-colliding underscore names still work
    ok = pivot_wide_multi(
        df, ["k"], "cat", ["a", "a_b"],
        [("vsum", "sum", "v"), ("wmax", "max", "w")],
    )
    assert ok.columns == ["k", "a_vsum", "a_wmax", "a_b_vsum", "a_b_wmax"]


def test_bfs_levels_shortest_hops(spark):
    from fhc_rco_etl_scalable_spark.operators.graph import bfs_levels

    # 0->1->2->3->4 chain plus a 0->2 shortcut: node 2 settles at hop 1,
    # node 3 at 2, node 4 at 3; node 9 unreachable; 5->0 ignored
    # (directed). max_hops=3 excludes nothing here but bounds the loop.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 2), (5, 0)],
        "src long, dst long",
    )
    got = {r.node: r.hops for r in bfs_levels(edges, "src", "dst", [0], 3).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_bfs_levels_multi_source_min(spark):
    from fhc_rco_etl_scalable_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame([(0, 1), (1, 2), (7, 2)], "src long, dst long")
    got = {
        r.node: r.hops for r in bfs_levels(edges, "src", "dst", [0, 7], 2).collect()
    }
    # node 2 is 2 hops from 0 but 1 hop from 7 — min wins.
    assert got == {0: 0, 7: 0, 1: 1, 2: 1}


def test_collocations_contingency_and_pmi(spark):
    """Hand-computed contingency: corpus 'a b a b' + 'a b c' has
    bigram events (a,b)x3, (b,a)x1, (b,c)x1 -> N=5; marginals count
    LEFT/RIGHT roles separately (n_x(a)=3, n_y(b)=3, ...); with_pmi
    adds ln(n_xy*N / (n_x*n_y))."""
    import math

    from fhc_rco_etl_scalable_spark.operators.lm import collocations

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    got = {
        (r.w1, r.w2): r
        for r in collocations(docs, min_count=1, with_pmi=True).collect()
    }
    assert {(k, (v.n_xy, v.n_x, v.n_y, v.n_total)) for k, v in got.items()} == {
        (("a", "b"), (3, 3, 3, 5)),
        (("b", "a"), (1, 2, 1, 5)),
        (("b", "c"), (1, 2, 1, 5)),
    }
    ab = got[("a", "b")]
    assert abs(ab.pmi - math.log(3 * 5 / (3 * 3))) < 1e-12
    # min_count prunes the tail but NOT the marginals' inputs
    only = collocations(docs, min_count=2).collect()
    assert len(only) == 1 and (only[0].n_x, only[0].n_total) == (3, 5)


def test_label_propagation_deterministic_rounds(spark):
    """Two triangles bridged by one edge: round 1 pulls every label to
    each node's smallest neighbor (bridge nodes see across), round 2
    settles both triangles onto label 1 through the bridge — the
    deterministic (count desc, label asc) tie rule makes each step
    hand-computable."""
    from fhc_rco_etl_scalable_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    # round 1 (all labels = ids, every neighbor-count is 1 -> min
    # neighbor wins): 1->2, 2->1, 3->1, 4->3, 5->4, 6->4
    one = {r.node: r.label for r in
           label_propagation(edges, "src", "dst", rounds=1).collect()}
    assert one == {1: 2, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4}
    # round 2 over those labels: node 4's neighbors {3,5,6} carry
    # {1,4,4} -> 4; node 3's {1,2,4} carry {2,1,3} -> tie, min 1;
    # node 2's {1,3} carry {2,1} -> tie, min 1.
    two = {r.node: r.label for r in
           label_propagation(edges, "src", "dst", rounds=2).collect()}
    assert two == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_label_propagation_converged_two_communities(spark):
    """Two triangles bridged by one edge: each triangle collapses to
    its min label and the fixed point keeps two communities. The
    returned round count includes the confirming no-op round and the
    answer equals the fixed-round form run long enough."""
    from fhc_rco_etl_scalable_spark.operators.graph import (
        label_propagation,
        label_propagation_converged,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)],
        "src long, dst long",
    )
    labels, rounds = label_propagation_converged(
        edges, "src", "dst", max_rounds=10
    )
    got = {r.node: r.label for r in labels.collect()}
    # the left triangle collapses to its min (1); across the bridge,
    # node 3's label wins the RIGHT triangle (3 < 10..12 so the tie
    # rule carries it): communities {1: {1,2,3}, 3: {10,11,12}} —
    # two communities, triangle membership preserved.
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12] == 3
    assert 2 <= rounds <= 10
    fixed = {
        r.node: r.label
        for r in label_propagation(
            edges, "src", "dst", rounds=rounds
        ).collect()
    }
    assert fixed == got


def test_label_propagation_converged_oscillation_raises(spark):
    """Synchronous LPA 2-cycles forever on a star (center and leaves
    swap labels every round) — the cap must raise loudly, never
    return a mid-oscillation frame as 'converged'."""
    import pytest as _pytest

    from fhc_rco_etl_scalable_spark.operators.graph import (
        label_propagation_converged,
    )

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="max_rounds"):
        label_propagation_converged(star, "src", "dst", max_rounds=6)


class TestDistinctSketches:
    """operators/sketches.py: the HLL path must stay pinned to the
    exact-distinct truth (documented ~0.8% RSE at lg_k=14), stay
    deterministic under partitioning, and merge losslessly — the three
    properties that justify using it in place of countDistinct at
    100 TB."""

    def _events(self, spark):
        from pyspark.sql import functions as SF

        return spark.range(60_000).select(
            (SF.col("id") % 4231).alias("user_id"),
            (SF.col("id") % 6).alias("site"),
        )

    def test_estimate_within_documented_error(self, spark):
        from fhc_rco_etl_scalable_spark.operators.sketches import distinct_sketch

        est = distinct_sketch(self._events(spark), "user_id").first().n_distinct_est
        assert abs(est - 4231) / 4231 < 0.03  # 3 sigma of the 0.8% RSE

    def test_sketch_bytes_partition_invariant(self, spark):
        from fhc_rco_etl_scalable_spark.operators.sketches import distinct_sketch

        ev = self._events(spark)
        a = distinct_sketch(ev.repartition(3), "user_id").first().sketch
        b = distinct_sketch(ev.repartition(29), "user_id").first().sketch
        assert bytes(a) == bytes(b)

    def test_merge_equals_direct(self, spark):
        # per-site sketches union'd == the sketch built over everything
        # (per-bucket MAX is associative + idempotent), so stored
        # rollups re-aggregate exactly.
        from fhc_rco_etl_scalable_spark.operators.sketches import (
            distinct_sketch,
            merge_sketches,
        )

        ev = self._events(spark)
        per_site = distinct_sketch(ev, "user_id", group_cols=["site"])
        assert per_site.count() == 6
        merged = merge_sketches(per_site).first()
        direct = distinct_sketch(ev, "user_id").first()
        assert bytes(merged.sketch) == bytes(direct.sketch)
        assert merged.n_distinct_est == direct.n_distinct_est


def test_neighbor_agg_single_round_sum_overflow_raises(spark):
    """Same ADVICE r12 discipline applied to the SINGLE-round
    neighbor_agg: integral features sum in DECIMAL(38,0) and raise
    past int64 instead of wrapping; fractional features keep the
    documented sum-then-truncate path."""
    import pytest as _pytest
    from fhc_rco_etl_scalable_spark.operators.graph import neighbor_agg

    edges = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    big = spark.createDataFrame(
        [(2, 2**62), (3, 2**62)], "id long, v long"
    )
    with _pytest.raises(Exception, match="overflows int64"):
        neighbor_agg(edges, "src", "dst", big, "id", "v").collect()
    ok = spark.createDataFrame(
        [(2, 2**62 - 1), (3, 2**62 - 1)], "id long, v long"
    )
    got = {
        r.node: r.nbr_sum
        for r in neighbor_agg(edges, "src", "dst", ok, "id", "v").collect()
    }
    assert got[1] == 2**63 - 2
    # fractional path unchanged: sum of doubles, truncated once
    dbl = spark.createDataFrame(
        [(2, 1.75), (3, 2.75)], "id long, v double"
    )
    got = {
        r.node: (r.nbr_sum, r.nbr_mean)
        for r in neighbor_agg(edges, "src", "dst", dbl, "id", "v").collect()
    }
    assert got[1] == (4, 2.0)


def test_pivot_rejects_none_values(spark):
    """A None in the explicit value list would emit a silently
    all-NULL column (CASE WHEN cat = NULL never matches) where the
    API pivot buckets NULL categories — refuse the ambiguity."""
    import pytest as _pytest
    from fhc_rco_etl_scalable_spark.operators.aggregate import (
        pivot_wide,
        pivot_wide_multi,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, None, 2.0)], "k long, cat string, v double"
    )
    with _pytest.raises(ValueError, match="None"):
        pivot_wide(df, ["k"], "cat", ["a", None], "v")
    with _pytest.raises(ValueError, match="None"):
        pivot_wide_multi(df, ["k"], "cat", [None], [("s", "sum", "v")])
