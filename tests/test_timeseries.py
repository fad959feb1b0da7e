"""Gap-fill (time_bucket_gapfill-style) truth tables on tiny frames."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from fhc_rco_etl_scalable_spark.operators.timeseries import gapfill, time_bucket

DAY = 86_400


def _events(spark):
    # k1: days 1,2,5,6 observed (gap at 3,4); k2: single day.
    rows = [
        ("k1", datetime(2024, 1, 1, 8), 10.0),
        ("k1", datetime(2024, 1, 1, 20), 20.0),  # day1 avg 15
        ("k1", datetime(2024, 1, 2, 12), 30.0),  # day2 avg 30
        ("k1", datetime(2024, 1, 5, 1), 60.0),  # day5 avg 60
        ("k1", datetime(2024, 1, 6, 9), 0.0),  # day6 avg 0
        ("k2", datetime(2024, 1, 3, 3), 7.0),
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, x double")


def _fill(spark):
    out = gapfill(
        _events(spark),
        keys=["k"],
        ts_col="ts",
        bucket_seconds=DAY,
        agg=F.round(F.avg("x"), 6),
        value_name="x",
    )
    return {
        (r["k"], r["bucket"].day): (r["x"], r["x_locf"], r["x_interp"])
        for r in out.collect()
    }


def test_time_bucket_epoch_aligned(spark):
    df = spark.range(1).select(
        time_bucket(F.lit("2024-03-07 13:45:12").cast("timestamp"), DAY).alias("d"),
        time_bucket(F.lit("2024-03-07 13:45:12").cast("timestamp"), 3600).alias("h"),
    )
    row = df.first()
    assert row["d"] == datetime(2024, 3, 7)
    assert row["h"] == datetime(2024, 3, 7, 13)


def test_grid_is_dense_per_key(spark):
    got = _fill(spark)
    assert {d for (k, d) in got if k == "k1"} == {1, 2, 3, 4, 5, 6}
    assert {d for (k, d) in got if k == "k2"} == {3}


def test_observed_rows_pass_through(spark):
    got = _fill(spark)
    for day, v in [(1, 15.0), (2, 30.0), (5, 60.0), (6, 0.0)]:
        x, locf, interp = got[("k1", day)]
        assert x == v and locf == v and interp == v


def test_gap_rows_locf_and_linear_interp(spark):
    got = _fill(spark)
    # gap days 3,4 sit between day2=30 and day5=60: interp 40, 50.
    for day, want in [(3, 40.0), (4, 50.0)]:
        x, locf, interp = got[("k1", day)]
        assert x is None
        assert locf == 30.0
        assert interp == pytest.approx(want)


def test_single_observation_key_has_no_gap_rows(spark):
    got = _fill(spark)
    assert got[("k2", 3)] == (7.0, 7.0, 7.0)


def _series(spark, vals):
    from datetime import timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        ("k", t0 + timedelta(seconds=i), float(v), i) for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, x double, id long")


def test_lttb_keeps_endpoints_and_widest_swing(spark):
    from fhc_rco_etl_scalable_spark.operators.timeseries import lttb_downsample

    # 9 points, 3 buckets (rn*3 DIV 9): {0,1,2} {3,4,5} {6,7,8}.
    # Flat except a spike at rn=4 — the interior bucket must pick it
    # (area = |at0 - at2| * v against flat zero anchors).
    df = _series(spark, [0, 0, 0, 1, 100, 2, 0, 0, 0])
    out = lttb_downsample(df, ["k"], "ts", "x", "id", n_out=3)
    got = sorted((r["bucket"], r["ts"].second, r["x"]) for r in out.collect())
    assert got == [(0, 0, 0.0), (1, 4, 100.0), (2, 8, 0.0)]


def test_lttb_short_series_keeps_both_endpoints(spark):
    from fhc_rco_etl_scalable_spark.operators.timeseries import lttb_downsample

    # A series shorter than n_out never reaches bucket n_out-1:
    # endpoint retention is positional, not bucket-indexed.
    df = _series(spark, [5, 7])
    out = lttb_downsample(df, ["k"], "ts", "x", "id", n_out=12)
    assert sorted(r["x"] for r in out.collect()) == [5.0, 7.0]


def test_lttb_downsamples_to_n_out(spark):
    from fhc_rco_etl_scalable_spark.operators.timeseries import lttb_downsample

    df = _series(spark, list(range(100)))
    out = lttb_downsample(df, ["k"], "ts", "x", "id", n_out=10)
    rows = out.collect()
    assert len(rows) == 10
    xs = {r["x"] for r in rows}
    assert {0.0, 99.0} <= xs  # endpoints survive


# --- property: gapfill vs a pure-python model -------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


_gap_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=29),  # day index
        st.integers(min_value=0, max_value=86_399),  # second in day
        st.integers(min_value=-1000, max_value=1000),  # value*100
    ),
    min_size=1,
    max_size=40,
)


def _py_gapfill(rows):
    """Pure-python model of gapfill (daily buckets, avg agg)."""
    from collections import defaultdict

    obs = defaultdict(list)
    for k, day, _sec, v in rows:
        obs[(k, day)].append(v / 100.0)

    def _round6(x: float) -> float:
        # Spark ROUND: BigDecimal.valueOf(double) (= shortest repr),
        # HALF_UP — python's round() is banker's and would diverge on
        # exact .5 boundaries at the 6th decimal.
        import decimal

        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    agg = {kd: _round6(sum(vs) / len(vs)) for kd, vs in obs.items()}
    out = {}
    for key in {k for k, _ in agg}:
        days = sorted(d for kk, d in agg if kk == key)
        lo, hi = days[0], days[-1]
        prev = None
        grid = list(range(lo, hi + 1))
        vals = {d: agg.get((key, d)) for d in grid}
        for d in grid:
            v = vals[d]
            if v is not None:
                prev = (d, v)
                out[(key, d)] = (v, v, v)
            else:
                nxt = next(
                    ((d2, vals[d2]) for d2 in range(d + 1, hi + 1)
                     if vals[d2] is not None),
                    None,
                )
                interp = prev[1] + (nxt[1] - prev[1]) * (d - prev[0]) / (
                    nxt[0] - prev[0]
                )
                out[(key, d)] = (None, prev[1], interp)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_gap_rows)
def test_gapfill_matches_python_model(spark, rows):
    from datetime import timedelta

    from fhc_rco_etl_scalable_spark.operators.timeseries import gapfill

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (k, t0 + timedelta(days=day, seconds=sec), v / 100.0)
            for k, day, sec, v in rows
        ],
        "k string, ts timestamp, x double",
    )
    out = gapfill(
        df, keys=["k"], ts_col="ts", bucket_seconds=86_400,
        agg=F.round(F.avg("x"), 6), value_name="x",
    )
    got = {
        (r["k"], (r["bucket"] - t0).days): (r["x"], r["x_locf"], r["x_interp"])
        for r in out.collect()
    }
    want = _py_gapfill(rows)
    assert set(got) == set(want)
    for kd, (v, locf, interp) in want.items():
        gv, gl, gi = got[kd]
        assert gv == v or (v is not None and abs(gv - v) < 1e-9)
        assert abs(gl - locf) < 1e-9
        assert abs(gi - interp) < 1e-9


# --- EWMA: batch and streaming folds pinned to one recurrence --------------


def _py_ewma(xs, alpha):
    y, out = None, []
    for x in xs:
        y = x if y is None else alpha * x + (1.0 - alpha) * y
        out.append(y)
    return out


def test_ewma_applyinpandas_matches_recurrence_exactly(spark):
    from fhc_rco_etl_scalable_spark.operators.timeseries import ewma

    vals = [float(((i * 37) % 101) - 50) / 7.0 for i in range(60)]
    df = _series(spark, vals)
    out = ewma(df, ["k"], "ts", "x", "id", alpha=0.3)
    by_id = {r["id"]: r["ewma"] for r in out.collect()}
    want = _py_ewma(vals, 0.3)
    # identical float ops in identical order -> exact equality
    assert [by_id[i] for i in range(60)] == want


def test_ewma_50k_rows_matches_recurrence(spark):
    """A long series on one key: 50k rows through the Arrow fold equal
    the sequential recurrence exactly."""
    from fhc_rco_etl_scalable_spark.operators.timeseries import ewma

    n = 50_000
    vals = [float(((i * 53) % 997) - 498) / 13.0 for i in range(n)]
    df = _series(spark, vals)
    out = ewma(df, ["k"], "ts", "x", "id", alpha=0.5)
    by_id = {r["id"]: r["ewma"] for r in out.collect()}
    assert [by_id[i] for i in range(n)] == _py_ewma(vals, 0.5)


# --- property: LTTB vs a pure-python model -----------------------------------

_lttb_series = st.lists(
    st.integers(min_value=-10_000, max_value=10_000),  # value*100
    min_size=1,
    max_size=50,
)


def _py_lttb(vals, n_out):
    """Pure-python model of the bucket-parallel LTTB variant."""
    n = len(vals)
    pts = [(float(i), v / 100.0, i) for i, v in enumerate(vals)]  # (t, v, id)
    buckets = {}
    for t, v, i in pts:
        b = (i * n_out) // n
        buckets.setdefault(b, []).append((t, v, i))
    avgs = {
        b: (
            sum(p[0] for p in ps) / len(ps),
            sum(p[1] for p in ps) / len(ps),
        )
        for b, ps in buckets.items()
    }
    order = sorted(avgs)
    prev = {order[j]: avgs[order[j - 1]] if j > 0 else None for j in range(len(order))}
    nxt = {
        order[j]: avgs[order[j + 1]] if j + 1 < len(order) else None
        for j in range(len(order))
    }
    sel = set()
    for b, ps in buckets.items():
        interior = [
            p for p in ps if 0 < b < n_out - 1 and p[2] != 0 and p[2] != n - 1
        ]
        if not interior or prev[b] is None or nxt[b] is None:
            continue
        (pt, pv), (nt, nv) = prev[b], nxt[b]
        best = max(
            interior,
            key=lambda p: (abs((pt - nt) * (p[1] - pv) - (pt - p[0]) * (nv - pv)), -p[2]),
        )
        sel.add(best[2])
    sel.add(0)
    sel.add(n - 1)
    return sel


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_lttb_series)
def test_lttb_matches_python_model(spark, vals):
    from fhc_rco_etl_scalable_spark.operators.timeseries import lttb_downsample

    df = _series(spark, [v / 100.0 for v in vals])
    out = lttb_downsample(df, ["k"], "ts", "x", "id", n_out=6)
    got = {r["ts"].second + 60 * r["ts"].minute for r in out.collect()}
    want = _py_lttb(vals, 6)
    assert got == want


def test_streaming_ewma_fold_carry_equals_single_fold():
    """The streaming fold carried across micro-batches must be the
    SAME float ops as one batch fold — split at every boundary."""
    import pandas as pd

    from fhc_rco_etl_scalable_spark.streaming.ewma_stream import ewma_fold_rows

    vals = [(i, float(((i * 31) % 89) - 44) / 7.0) for i in range(25)]

    def pdf(chunk):
        return pd.DataFrame(
            {
                "event_id": [i for i, _ in chunk],
                "ts": pd.to_datetime([1_700_000_000 + i for i, _ in chunk], unit="s"),
                "value": [v for _, v in chunk],
            }
        )

    whole, _ = ewma_fold_rows(7, iter([pdf(vals)]), None, 0.3)
    for cut in range(1, len(vals)):
        a, y = ewma_fold_rows(7, iter([pdf(vals[:cut])]), None, 0.3)
        b, _ = ewma_fold_rows(7, iter([pdf(vals[cut:])]), y, 0.3)
        assert a + b == whole  # bit-exact, including the carried y
