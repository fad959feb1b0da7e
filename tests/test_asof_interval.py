"""As-of joins (J5/J6) and interval-overlap joins (J7/J8) on tiny frames."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from fhc_rco_etl_scalable_spark.operators.asof import asof_join, asof_join_range
from fhc_rco_etl_scalable_spark.operators.interval_join import interval_overlap_join

T0 = datetime(2024, 1, 1)


def _ts(m):
    return T0 + timedelta(minutes=m)


def _left(spark):
    return spark.createDataFrame(
        [("k1", _ts(10), "a1"), ("k1", _ts(30), "a2"), ("k2", _ts(5), "a3")],
        "k string, lts timestamp, lid string",
    )


def _right(spark):
    return spark.createDataFrame(
        [
            ("k1", _ts(0), "r0"),
            ("k1", _ts(10), "r1"),  # ties a1's ts exactly
            ("k1", _ts(20), "r2"),
            ("k2", _ts(50), "r3"),
        ],
        "k string, rts timestamp, rid string",
    )


def test_asof_tolerance_discards_stale_matches(spark):
    """merge_asof-style tolerance: a1 at t=10 matches r1 (gap 0, kept);
    a2 at t=30 matches r2 at t=20 (gap 10 > 5 -> discarded); k2's a3
    has no preceding row at all (NULL either way). Forward: a3 at t=5
    sees r3 at t=50, discarded at 5-minute tolerance."""
    back = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="backward", strict=False,
        tie_break=["rid"], tolerance="5 minutes",
    )
    got = {r.lid: r.rid for r in back.collect()}
    assert got == {"a1": "r1", "a2": None, "a3": None}
    fwd = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="forward", strict=True,
        tie_break=["rid"], tolerance="15 minutes",
    )
    got = {r.lid: r.rid for r in fwd.collect()}
    # a1 -> r2 (gap 10 <= 15); a2 has nothing later; a3 -> r3 gap 45
    assert got == {"a1": "r2", "a2": None, "a3": None}
    # no-tolerance behavior unchanged by the struct plumbing
    plain = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="backward", strict=False, tie_break=["rid"],
    )
    got = {r.lid: r.rid for r in plain.collect()}
    assert got == {"a1": "r1", "a2": "r2", "a3": None}


def test_asof_backward_nonstrict_includes_tie(spark):
    out = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="backward", strict=False, tie_break=["rid"],
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {"a1": "r1", "a2": "r2", "a3": None}


def test_asof_backward_strict_excludes_tie(spark):
    out = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="backward", strict=True, tie_break=["rid"],
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {"a1": "r0", "a2": "r2", "a3": None}


def test_asof_forward_strict(spark):
    out = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="forward", strict=True, tie_break=["rid"],
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {"a1": "r2", "a2": None, "a3": "r3"}


def test_asof_forward_nonstrict_includes_tie(spark):
    out = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="forward", strict=False, tie_break=["rid"],
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {"a1": "r1", "a2": None, "a3": "r3"}


def test_asof_nearest_min_abs_distance(spark):
    """direction='nearest' (r11, VERDICT r10 #6): a1 at t=10 ties r1
    exactly (gap 0 both ways -> backward candidate r1); a2 at t=30 has
    backward r2 (gap 10) and nothing forward -> r2; a3 at t=5 has only
    forward r3 (gap 45) -> r3."""
    out = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="nearest", strict=False, tie_break=["rid"],
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {"a1": "r1", "a2": "r2", "a3": "r3"}


def test_asof_nearest_tie_goes_backward(spark):
    """Equal absolute distance: t=15 sits exactly between r1 (t=10)
    and r2 (t=20) — the backward candidate wins, matching the
    documented deterministic tie rule."""
    left = spark.createDataFrame(
        [("k1", _ts(15), "mid")], "k string, lts timestamp, lid string"
    )
    out = asof_join(
        left, _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="nearest", strict=False, tie_break=["rid"],
    )
    assert out.collect()[0].rid == "r1"


def test_asof_nearest_strict_and_tolerance(spark):
    """strict excludes the exact-timestamp match on BOTH sides (a1 at
    t=10 skips r1, nearest of r0/r2 at gap 10 each -> backward r0);
    tolerance bounds each side before the compare (a3's only
    candidate r3 at gap 45 dies under a 10-minute tolerance)."""
    out = asof_join(
        _left(spark), _right(spark), on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid"], direction="nearest", strict=True, tie_break=["rid"],
        tolerance="10 minutes",
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == {"a1": "r0", "a2": "r2", "a3": None}


def test_asof_range_with_preference(spark):
    # Reference J5: last event in (lower, upper], preferring flagged rows
    # (mes_etl.py:198-207 prefers START_TIME_of_Uptime < CO start).
    anchors = spark.createDataFrame(
        [("k1", _ts(0), _ts(25), 1)], "k string, lo timestamp, hi timestamp, __anchor_id int"
    )
    events = spark.createDataFrame(
        [("k1", _ts(10), "e1", True), ("k1", _ts(20), "e2", False)],
        "k string, ets timestamp, eid string, pref boolean",
    )
    out = asof_join_range(
        anchors, events, on=["k"], lower=F.col("lo"), upper=F.col("hi"),
        event_ts="ets", pick="last", prefer=F.col("ev_pref") == True,  # noqa: E712
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].ev_eid == "e1"  # preferred beats later


def _intervals(spark):
    return spark.createDataFrame(
        [("k1", _ts(0), _ts(10), "i1"), ("k1", _ts(20), _ts(30), "i2")],
        "k string, s timestamp, e timestamp, iid string",
    )


def _points(spark):
    return spark.createDataFrame(
        [("k1", _ts(0), "p0"), ("k1", _ts(9), "p1"), ("k1", _ts(10), "p2"),
         ("k1", _ts(25), "p3"), ("k2", _ts(5), "p4")],
        "k string, pts timestamp, pid string",
    )


def test_interval_overlap_half_open(spark):
    out = interval_overlap_join(
        _intervals(spark), _points(spark), on=["k"],
        interval_start="s", interval_end="e", point_ts="pts",
    )
    got = sorted((r.iid, r.pid) for r in out.collect())
    # p2 at exactly e of i1 excluded (half-open); p4 wrong key excluded
    assert got == [("i1", "p0"), ("i1", "p1"), ("i2", "p3")]


def test_interval_guard_gated_on_bucketed(spark):
    """ADVICE r13: __iv_id/__pt_id/__bucket are only STAGED on the
    bucketed path — the plain path must keep accepting frames that
    happen to carry those names (previously-valid calls), while the
    bucketed path fails fast before corrupting its working columns."""
    import pytest as _pytest

    pts = _points(spark).withColumn("__bucket", F.lit(1))
    out = interval_overlap_join(
        _intervals(spark), pts, on=["k"],
        interval_start="s", interval_end="e", point_ts="pts",
    )
    assert sorted((r.iid, r.pid) for r in out.collect()) == [
        ("i1", "p0"), ("i1", "p1"), ("i2", "p3")
    ]
    with _pytest.raises(ValueError, match="collide"):
        interval_overlap_join(
            _intervals(spark), pts, on=["k"],
            interval_start="s", interval_end="e", point_ts="pts",
            bucketed=True, bucket_seconds=300,
        )


def test_interval_overlap_bucketed_matches_plain(spark):
    plain = interval_overlap_join(
        _intervals(spark), _points(spark), on=["k"],
        interval_start="s", interval_end="e", point_ts="pts",
    )
    bucketed = interval_overlap_join(
        _intervals(spark), _points(spark), on=["k"],
        interval_start="s", interval_end="e", point_ts="pts",
        bucketed=True, bucket_seconds=300,
    )
    a = sorted((r.iid, r.pid) for r in plain.collect())
    b = sorted((r.iid, r.pid) for r in bucketed.select("iid", "pid").collect())
    assert a == b


def test_asof_null_value_and_multi_col_atomicity(spark):
    # ADVICE r1: the nearest right row must win ATOMICALLY — a NULL
    # field of that row stays NULL (no older value leaking through),
    # and multiple value_cols always come from the same right row.
    left = spark.createDataFrame(
        [("k1", _ts(25), "a1")], "k string, lts timestamp, lid string"
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts(0), "old", 1.0),
            ("k1", _ts(20), None, 2.0),  # nearest row: NULL rid, real val
        ],
        "k string, rts timestamp, rid string, val double",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["rid", "val"], direction="backward", tie_break=["val"],
    )
    row = out.collect()[0]
    assert row.rid is None  # NOT 'old' — nearest row's NULL is kept
    assert row.val == 2.0  # both picks from the same (nearest) row


def test_asof_value_col_clash_raises(spark):
    from fhc_rco_etl_scalable_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, T0, "x")], "k long, ts timestamp, BRAND string")
    right = spark.createDataFrame([(1, T0, "y")], "k long, rts timestamp, BRAND string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exist in left"):
        asof_join(left, right, ["k"], "ts", "rts", ["BRAND"])
    right2 = right.withColumnRenamed("BRAND", "v")
    with _pytest.raises(ValueError, match="tie_break"):
        asof_join(left, right2, ["k"], "ts", "rts", ["v"], tie_break=["nope"])


def test_asof_null_keys_match_nothing(spark):
    # SQL join semantics: NULL keys never match — a NULL-key right row
    # must not donate its value to NULL-key left rows.
    from datetime import timedelta

    from fhc_rco_etl_scalable_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, T0 + timedelta(hours=1)), (1, T0 + timedelta(hours=1))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(None, T0, "RNULL"), (1, T0, "R1")], "k long, rts timestamp, v string"
    )
    got = {r.k: r.v for r in asof_join(left, right, ["k"], "ts", "rts", ["v"]).collect()}
    assert got[1] == "R1"
    assert got[None] is None


def test_asof_forward_uses_linear_frame(spark):
    # the forward direction must not plan the O(n^2)
    # (0, unboundedFollowing) frame — it is rewritten as a reversed
    # growing frame (unboundedPreceding, 0).
    from fhc_rco_etl_scalable_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, T0)], "k long, ts timestamp")
    right = spark.createDataFrame([(1, T0, "a")], "k long, rts timestamp, v string")
    out = asof_join(left, right, ["k"], "ts", "rts", ["v"], direction="forward")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "unboundedfollowing" not in plan.lower(), plan


def test_asof_range_pick_validated(spark):
    from fhc_rco_etl_scalable_spark.operators.asof import asof_join_range
    import pyspark.sql.functions as F
    import pytest as _pytest

    anchors = spark.createDataFrame([(1, 1, T0)], "__anchor_id long, k long, at timestamp")
    events = spark.createDataFrame([(1, T0, "e")], "k long, ts timestamp, v string")
    with _pytest.raises(ValueError, match="pick"):
        asof_join_range(anchors, events, ["k"], F.lit(T0), F.col("at"), "ts", pick="lst")


def test_bucketed_interval_preserves_duplicate_rows(spark):
    # bucketed=True must be a drop-in switch: duplicate input rows stay
    # distinct in the multiset output (inner AND left).
    from datetime import timedelta

    from fhc_rco_etl_scalable_spark.operators.interval_join import (
        interval_overlap_join,
    )

    iv_rows = [("L1", T0, T0 + timedelta(hours=2))] * 2  # identical twice
    iv = spark.createDataFrame(iv_rows, "k string, s timestamp, e timestamp")
    pt = spark.createDataFrame(
        [("L1", T0 + timedelta(minutes=30), T0 + timedelta(minutes=40))],
        "k string, ps timestamp, pe timestamp",
    )
    for how in ("inner", "left"):
        plain = interval_overlap_join(
            iv, pt.withColumnRenamed("k", "k2").withColumnRenamed("k2", "k"),
            ["k"], "s", "e", "ps", how=how, point_end="pe",
        ).count()
        buck = interval_overlap_join(
            iv, pt, ["k"], "s", "e", "ps", how=how, point_end="pe",
            bucketed=True, bucket_seconds=600,
        ).count()
        assert buck == plain == 2, (how, plain, buck)


def test_bucketed_interval_span_guard(spark):
    from datetime import timedelta

    from fhc_rco_etl_scalable_spark.operators.interval_join import (
        interval_overlap_join,
    )

    # sentinel far-future end: with the cap the explode stays bounded
    iv = spark.createDataFrame(
        [("L1", T0, T0.replace(year=9999))], "k string, s timestamp, e timestamp"
    )
    pt = spark.createDataFrame(
        [("L1", T0 + timedelta(minutes=5))], "k string, ps timestamp"
    )
    out = interval_overlap_join(
        iv, pt, ["k"], "s", "e", "ps", bucketed=True, bucket_seconds=86400,
        max_span_buckets=10,
    )
    assert out.count() == 1  # match within the capped span still found


@pytest.mark.parametrize("broadcast_dim", [True, False])
def test_pit_lookup_versions_and_null_band(spark, broadcast_dim):
    """SCD2 point-in-time semantics: facts at t pick the version with
    valid_from <= t < valid_to (NULL = open); facts before the key's
    first version, or for unknown keys, carry NULLs; fact cardinality
    is preserved exactly. Both execution paths — broadcast join and
    the big-dim union/ffill fallback — honor the same contract."""
    from fhc_rco_etl_scalable_spark.operators.asof import pit_lookup

    dim = spark.createDataFrame(
        [
            ("B1", 10, _ts(0), _ts(100), False),   # closed version
            ("B1", 20, _ts(100), None, True),      # open version
            ("B2", 77, _ts(50), None, True),
        ],
        "k string, v long, valid_from timestamp, valid_to timestamp,"
        " is_current boolean",
    )
    facts = spark.createDataFrame(
        [
            ("f1", "B1", _ts(99)),    # inside the closed version
            ("f2", "B1", _ts(100)),   # boundary -> open version
            ("f3", "B2", _ts(10)),    # before B2's first version -> NULL
            ("f4", "B3", _ts(10)),    # unknown key -> NULL
        ],
        "fid string, k string, fact_ts timestamp",
    )
    out = pit_lookup(
        facts, dim, key="k", fact_ts="fact_ts", value_cols=["v"],
        broadcast_dim=broadcast_dim,
    )
    got = {r.fid: r.dim_v for r in out.collect()}
    assert got == {"f1": 10, "f2": 20, "f3": None, "f4": None}
    assert out.count() == 4


def test_pit_lookup_fallback_matches_broadcast_on_sf_fixture(spark):
    """VERDICT r11 #4: the union/ffill fallback returns the IDENTICAL
    frame as the broadcast path on a chain with closed + open
    versions, gaps, boundary timestamps, and unknown keys — on real
    sf0.001 part rows (the scd2_pit_lookup surface shape)."""
    from pyspark.sql import functions as F

    import os

    from fhc_rco_etl_scalable_spark.operators.asof import pit_lookup

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    part = spark.read.parquet(f"{sf}/part.parquet")
    brands = part.select(F.col("p_brand").alias("k")).distinct()
    # two versions per brand with a one-day GAP between them, plus an
    # open third for half the brands
    dim = brands.select(
        "k",
        F.expr("timestamp'2024-01-01 00:00:00'").alias("valid_from"),
        F.expr("timestamp'2024-01-10 00:00:00'").alias("valid_to"),
        F.lit(1).alias("ver"),
    ).unionByName(
        brands.select(
            "k",
            F.expr("timestamp'2024-01-11 00:00:00'").alias("valid_from"),
            F.expr("timestamp'2024-02-01 00:00:00'").alias("valid_to"),
            F.lit(2).alias("ver"),
        )
    ).unionByName(
        brands.filter(F.length("k") % 2 == 0).select(
            "k",
            F.expr("timestamp'2024-02-01 00:00:00'").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(3).alias("ver"),
        )
    )
    facts = part.select(
        "p_partkey",
        F.col("p_brand").alias("k"),
        F.expr(
            "timestamp'2023-12-28 00:00:00'"
            " + (p_partkey % 45) * INTERVAL 1 DAY"
        ).alias("fact_ts"),
    )

    def canon(df):
        return sorted(
            map(tuple, df.collect()),
            key=lambda t: tuple((v is None, str(v)) for v in t),
        )

    a = pit_lookup(facts, dim, "k", "fact_ts", value_cols=["ver"],
                   broadcast_dim=True)
    b = pit_lookup(facts, dim, "k", "fact_ts", value_cols=["ver"],
                   broadcast_dim=False)
    assert a.columns == b.columns
    assert canon(a) == canon(b)
    # the fixture genuinely exercises all bands
    vals = {r.dim_ver for r in b.collect()}
    assert vals == {None, 1, 2, 3}


def test_pit_lookup_fallback_rejects_reserved_fact_columns(spark):
    """ADVICE r12: the union/ffill fallback stages __ts/__is_left/
    __v/__pick and dim_<c> ON the facts frame; a facts frame already
    carrying one of those must fail fast (the broadcast path only
    decorates the dim side and stays usable)."""
    import pytest as _pytest
    from fhc_rco_etl_scalable_spark.operators.asof import pit_lookup

    dim = spark.createDataFrame(
        [("B1", 10, _ts(0), None)],
        "k string, v long, valid_from timestamp, valid_to timestamp",
    )
    for bad_col in ("__ts", "__pick", "dim_v"):
        facts = spark.createDataFrame(
            [("f1", "B1", 7)], f"fid string, k string, {bad_col} long"
        ).withColumn("fact_ts", F.lit(_ts(5)))
        with _pytest.raises(ValueError, match="collide"):
            pit_lookup(facts, dim, "k", "fact_ts", value_cols=["v"],
                       broadcast_dim=False)
        # broadcast path does not stage fact-side names: still fine
        out = pit_lookup(facts, dim, "k", "fact_ts", value_cols=["v"],
                         broadcast_dim=True)
        if bad_col != "dim_v":
            assert out.count() == 1


def test_pit_lookup_fallback_broken_chain_pick(spark):
    """The union/ffill fallback picks ONE version on a broken chain:
    among versions with equal valid_from the open one wins, otherwise
    the latest valid_to. A dim row with a NULL valid_from or a NULL
    key never donates, and a NULL-key fact keeps its row with NULL
    attributes."""
    from fhc_rco_etl_scalable_spark.operators.asof import pit_lookup

    dim = spark.createDataFrame(
        [
            ("K1", 2, _ts(0), None),       # open: wins the equal-start tie
            ("K1", 1, _ts(0), _ts(50)),
            ("K2", 3, _ts(0), _ts(20)),
            ("K2", 4, _ts(0), _ts(40)),    # later valid_to wins
            ("K4", 7, None, None),         # NULL valid_from: never matches
            ("K4", 8, _ts(5), _ts(100)),
            (None, 9, _ts(0), None),       # NULL key: never matches
        ],
        "k string, v long, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            ("f1", "K1", _ts(10)),
            ("f2", "K1", _ts(60)),
            ("f3", "K2", _ts(10)),
            ("f4", "K2", _ts(30)),
            ("f5", "K2", _ts(45)),   # past the latest end -> NULL
            ("f6", "K4", _ts(1)),    # before K4's first dated version
            ("f7", "K4", _ts(10)),
            ("f8", None, _ts(10)),
        ],
        "fid string, k string, fact_ts timestamp",
    )
    out = pit_lookup(
        facts, dim, key="k", fact_ts="fact_ts", value_cols=["v"],
        broadcast_dim=False,
    )
    assert out.columns == ["fid", "k", "fact_ts", "dim_v"]
    got = {r.fid: r.dim_v for r in out.collect()}
    assert got == {
        "f1": 2, "f2": 2, "f3": 4, "f4": 4, "f5": None,
        "f6": None, "f7": 8, "f8": None,
    }
    assert out.count() == 8


def test_validate_scd2_chain_flags_violations(spark):
    """Sound chains come back empty; overlapping versions, an open
    version with a successor, empty intervals, and double-open keys
    are each named."""
    from fhc_rco_etl_scalable_spark.operators.asof import validate_scd2_chain

    sound = spark.createDataFrame(
        [("A", _ts(0), _ts(10)), ("A", _ts(10), None), ("B", _ts(5), None)],
        "k string, valid_from timestamp, valid_to timestamp",
    )
    assert validate_scd2_chain(sound, "k").count() == 0

    bad = spark.createDataFrame(
        [
            ("C", _ts(0), _ts(20)), ("C", _ts(10), None),   # overlap
            ("D", _ts(0), None), ("D", _ts(10), None),      # open w/ successor + 2 open
            ("E", _ts(10), _ts(10)),                        # empty interval
        ],
        "k string, valid_from timestamp, valid_to timestamp",
    )
    got = {(r.key, r.violation) for r in validate_scd2_chain(bad, "k").collect()}
    assert ("C", "overlap") in got
    assert ("E", "empty_interval") in got
    assert any(k == "D" for k, _ in got)


def test_validate_scd2_chain_enumerates_spanning_overlaps(spark):
    """A long version spanning SEVERAL successors flags every
    overlapped successor (running max(valid_to) over all
    predecessors, not just the immediate one — ADVICE r11)."""
    from fhc_rco_etl_scalable_spark.operators.asof import validate_scd2_chain

    dim = spark.createDataFrame(
        [
            ("K", _ts(0), _ts(100)),   # spans the next three
            ("K", _ts(10), _ts(20)),
            ("K", _ts(30), _ts(40)),
            ("K", _ts(50), _ts(60)),
            ("K", _ts(100), None),     # starts AT the span end: sound
        ],
        "k string, valid_from timestamp, valid_to timestamp",
    )
    out = validate_scd2_chain(dim, "k").collect()
    assert {(r.valid_from, r.violation) for r in out} == {
        (_ts(10), "overlap"),
        (_ts(30), "overlap"),
        (_ts(50), "overlap"),
    }
    # open predecessor: everything after it overlaps
    dim2 = spark.createDataFrame(
        [("L", _ts(0), None), ("L", _ts(10), _ts(20)), ("L", _ts(30), _ts(40))],
        "k string, valid_from timestamp, valid_to timestamp",
    )
    out2 = validate_scd2_chain(dim2, "k").collect()
    assert sorted((r.valid_from, r.violation) for r in out2) == [
        (_ts(10), "overlap"),
        (_ts(30), "overlap"),
    ]
