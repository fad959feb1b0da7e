"""Full site ETL: all 8 outputs materialize with the canonical schemas;
extraction flags, runtime/day, brandcode master, and Script_Data
behaviors (A2-A6, F3-F6)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from fhc_rco_etl_scalable_spark.operators.aggregate import (
    argmax_by_count,
    day_start_hours,
)
from fhc_rco_etl_scalable_spark.operators.brandcode import brandcode_master
from fhc_rco_etl_scalable_spark.operators.extract import (
    downtime_variants,
    with_derived_flags,
)
from fhc_rco_etl_scalable_spark.plans.rco_pipeline import SiteParams
from fhc_rco_etl_scalable_spark.plans.site_etl import site_etl
from fhc_rco_etl_scalable_spark.schemas import OUTPUT_SCHEMAS, align_to_schema

T0 = datetime(2024, 1, 1, 6, 0)

DT_SCHEMA = (
    "downtime_id string, dtCategory string, LINE string, MACHINE string,"
    " START_TIME timestamp, END_TIME timestamp, DOWNTIME double, UPTIME double,"
    " BRANDCODE string, CAUSE_LEVELS_1_NAME string, CAUSE_LEVELS_2_NAME string,"
    " CAUSE_LEVELS_3_NAME string, CAUSE_LEVELS_4_NAME string, LineStatus string,"
    " OPERATOR_COMMENT string, Fault string"
)


def _dt(did, line, machine, start_min, dt_min, up_min, brand, c1, c2,
        cat="DTMach-Failure", status=None):
    s = T0 + timedelta(minutes=start_min)
    return (did, cat, line, machine, s, s + timedelta(minutes=dt_min),
            float(dt_min), float(up_min), brand, c1, c2, None, None, status,
            "note", "F1")


@pytest.fixture(scope="module")
def site_outputs(spark):
    rows = [
        _dt("d1", "L1", "L1 CM", 0, 10, 30, "A", "Planned Downtime", "Changeover"),
        _dt("d2", "L1", "L1 CM", 20, 5, 10, "B", "Planned Downtime", "Changeover"),
        _dt("f1", "L1", "L1 CM", 60, 2, 35, "B", "Unplanned Downtime", "Failure"),
        _dt("f2", "L1", "L1 OTHER", 70, 3, 60, "B", "Unplanned Downtime", "Failure"),
        _dt("x1", "L1", "L1 CM", 90, 1, 15, "B", "Unplanned Downtime", "Failure",
            status="PR Out: trial"),
        _dt("b1", "L1", "L1 CM", 95, 1, 2, "B", "Unplanned Downtime", "Starved",
            cat="DTMach-Starved"),
        _dt("i1", "L1", "L1 CM", 240, 30, 120, "B", "Idle", "Idle"),
        # second day so runtime/day survives first-day elimination
        _dt("n1", "L1", "L1 CM", 24 * 60 + 10, 5, 400, "B", "Unplanned Downtime", "Failure"),
    ]
    downtime = spark.createDataFrame(rows, DT_SCHEMA)
    line_config = spark.createDataFrame(
        [("L1", "Dept", "CM", 1, "L1", "cfg")],
        "MDC_Line_Name string, Department string, Constraint_Machine_String string,"
        " SiteNameLookupId int, System string, Line_Configuration string",
    )
    prod = spark.createDataFrame(
        [
            ("p1", "A", "Brand:Alpha", "Fam", "Grp", 12.0, 2.0),
            ("p2", "A", "Brand:Alpha", "Fam", "Grp", 12.0, 3.0),
            ("p3", "A", "Brand:Beta", "Fam", "Grp", 12.0, -1.0),
            ("p4", "B", "Other:Gamma", "Fam2", "Grp2", 6.0, 1.5),
            ("p5", "B", "Other:Delta", "Fam2", "Grp2", 6.0, 0.0),
            ("p6", "B", "Other:Gamma", "Fam2", "Grp2", 6.0, 1.0),
        ],
        "event_id string, BRANDCODE string, ProdDesc string, ProdFam string,"
        " ProdGroup string, FirstPackCount double, StatFactor double",
    )
    site = SiteParams(server="SRV", co_trigger_parameter=30.0)
    outs = site_etl(downtime, prod, site, line_config=line_config,
                    data_update_time=datetime(2024, 1, 5))
    return outs


def test_all_eight_outputs_present_and_aligned(site_outputs):
    assert set(site_outputs) == set(OUTPUT_SCHEMAS)
    for name, df in site_outputs.items():
        aligned = align_to_schema(df, OUTPUT_SCHEMAS[name])
        assert aligned.columns == [f.name for f in OUTPUT_SCHEMAS[name].fields]
        assert aligned.count() >= 0  # materializes


def test_flag_lattice(spark):
    rows = [
        _dt("a", "L1", "L1 CM", 0, 1, 1, "A", "Planned Downtime", "CO",
            cat="Planned-CO"),
        _dt("b", "L1", "L1 OTHER", 1, 1, 1, "A", "Unplanned Downtime", "F"),
        _dt("c", "L1", "L1 CM", 2, 1, 1, "A", "Idle", "F", status="PR Out: x"),
        # substring containment: category with a suffix is still blocked
        _dt("d", "L1", "L1 CM", 3, 1, 1, "A", None, "F",
            cat="DTMach-Blocked: upstream"),
    ]
    flagged = with_derived_flags(spark.createDataFrame(rows, DT_SCHEMA),
                                 line_config=None)
    # no line_config -> isConstraint defaults True; test flags
    got = {r.downtime_id: r for r in flagged.collect()}
    # Planned check reads the CATEGORY (data_from_mdc.py:83-84)
    assert got["a"].Planned_Stop_Check == 1 and got["a"].Idle_Check == 0
    assert got["b"].Planned_Stop_Check == 0
    # Idle_Check mirrors isExcluded (data_from_mdc.py:85)
    assert got["c"].isExcluded and got["c"].Idle_Check == 1
    assert not got["d"].isStop  # substring, not exact match
    v = downtime_variants(flagged)
    # lattice: isStop is NOT a lattice filter; only exclusion is
    assert v["line_dt"].count() == 3  # a, b, d (c excluded)
    # non-multi-constraint: constraint machines removed from machine set
    assert v["machine_dt_full"].count() == 0
    v_mc = downtime_variants(flagged, multi_constraint=True)
    assert v_mc["machine_dt_full"].count() == 4
    assert v_mc["machine_dt"].count() == 3  # c excluded


def test_constraint_flag_via_line_config(site_outputs):
    # CO detection ran only on constraint machine: f2 (L1 OTHER) is not
    # in CO_Event_Log input, and sessions only from d1/d2
    log = site_outputs["CO_Event_Log"].collect()
    assert {r.downtime_id for r in log} == {"d1", "d2"}


def test_runtime_per_day(site_outputs):
    rows = site_outputs["Runtime_per_Day_data"].collect()
    # first-day elimination leaves only day 2
    assert len(rows) == 1
    assert rows[0].Runtime == 400.0 and rows[0].Server == "SRV"


def test_brandcode_master(site_outputs):
    rows = {r.BRANDCODE: r for r in site_outputs["BRANDCODE_data"].collect()}
    assert set(rows) == {"A", "B"}
    # argmax by count: A -> Brand:Alpha (2 votes), B -> Other:Gamma (2)
    assert rows["A"].BRANDNAME in ("Alpha", "Brand:Alpha")
    assert rows["A"].StatFactor == 3.0  # max positive
    assert rows["B"].StatFactor == 1.5
    assert rows["A"].UNITS_PER_CASE == 12.0


def test_production_only_filter_gates_brandcode_vote(spark):
    # F6 (reference data_from_mdc.py:183): PR-Out production rows must
    # not vote in the A5 argmax nor feed the A6 StatFactor max.
    rows = [
        ("p1", "A", "Brand:Alpha", "Fam", "Grp", 12.0, 2.0, "In Production"),
        ("p2", "A", "Brand:Alpha", "Fam", "Grp", 12.0, 3.0, "In Production"),
        # three PR-Out ghosts: would win the argmax AND the max-positive
        # StatFactor if the filter were skipped.
        ("p3", "A", "Ghost", "BAD", "BAD", 99.0, 1e6, "PR-Out"),
        ("p4", "A", "Ghost", "BAD", "BAD", 99.0, 1e6, "PR-Out"),
        ("p5", "A", "Ghost", "BAD", "BAD", 99.0, 1e6, None),
    ]
    schema = (
        "event_id string, BRANDCODE string, ProdDesc string, ProdFam string,"
        " ProdGroup string, FirstPackCount double, StatFactor double,"
        " LineStatus string"
    )
    prod = spark.createDataFrame(rows, schema)
    downtime = spark.createDataFrame(
        [_dt("d1", "L1", "L1 CM", 0, 10, 30, "A", "Planned Downtime", "Changeover")],
        DT_SCHEMA,
    )
    outs = site_etl(
        downtime, prod, SiteParams(server="SRV"), run_machine_level=False,
        data_update_time=datetime(2024, 1, 5),
    )
    row = outs["BRANDCODE_data"].collect()[0]
    assert row.ProdFam == "Fam" and row.StatFactor == 3.0
    assert row.UNITS_PER_CASE == 12.0

    # opt-out: a site whose source pre-filters keeps every row
    outs_off = site_etl(
        downtime, prod, SiteParams(server="SRV", production_only=False),
        run_machine_level=False, data_update_time=datetime(2024, 1, 5),
    )
    row_off = outs_off["BRANDCODE_data"].collect()[0]
    assert row_off.ProdFam == "BAD" and row_off.StatFactor == 1e6


def test_script_data(site_outputs):
    rows = site_outputs["Script_Data"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.System == "L1" and r.Number_of_Constraints == 1
    assert r.First_Available_Data_Point == T0
    assert r.Day_Start_hours is not None


def test_day_start_hours_majority(spark):
    df = spark.createDataFrame(
        [("L1", 6)] * 5 + [("L1", 7)] * 3 + [("L1", 22)] * 1,
        "LINE string, h int",
    )
    got = day_start_hours(df, ["LINE"], "h", prefer="min").collect()
    # max tally 5 -> keep tallies > 2.5 -> hours {6, 7} -> min = 6
    assert got[0].Day_Start_hours == 6


def test_argmax_by_count_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("k", "b"), ("k", "a")], "key string, attr string"
    )
    got = argmax_by_count(df, ["key"], ["attr"]).collect()
    assert got[0].attr == "a"  # tie -> attr ascending


def test_sliding_distinct_trailing_window(spark):
    """Trailing-3-day uniques: user u1 active day 0 and 2, u2 day 0
    only — window starting day 2 covers days 2..4 so only u1 counts;
    the day-0 start covers days 0..-2 i.e. just day 0 -> both."""
    from datetime import datetime

    from fhc_rco_etl_scalable_spark.operators.aggregate import sliding_distinct

    d0 = datetime(2024, 3, 1, 12, 0)
    rows = [
        (d0, 1), (d0, 2),
        (datetime(2024, 3, 3, 9, 0), 1),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    got = {
        str(r.window_start): r.n_distinct
        for r in sliding_distinct(df, "ts", "user_id", size_days=3).collect()
    }
    # day-0 events feed starts {3-01, 2-29, 2-28}; day-2 events feed
    # {3-03, 3-02, 3-01}.
    assert got == {
        "2024-02-28": 2, "2024-02-29": 2, "2024-03-01": 2,
        "2024-03-02": 1, "2024-03-03": 1,
    }


def test_gantt_outputs_nonempty(site_outputs):
    assert len(site_outputs["Gantt_Data"].collect()) > 0
    statuses = {r.Downtime_Status for r in site_outputs["Gantt_Data"].collect()}
    assert statuses <= {1.0, 1.7, 2.0, 2.3, 3.0, 4.0}
    assert 1.0 in statuses  # CO events coded on the constraint pass


def test_multi_constraint_dedups_line_stream_at_extraction(spark):
    # Both references dedup the FULL line stream at extraction
    # (R Maple:54-60; py-port data_from_mdc.py:91-94 modulo its inplace
    # bug) so first-stop/gantt/as-of consumers see each physical stop
    # once — not just the CO stream.
    from fhc_rco_etl_scalable_spark.operators.extract import (
        downtime_variants,
        with_derived_flags,
    )

    t = datetime(2024, 1, 1, 6, 0)
    rows = [
        ("d1", "L1", t, "M_A", None, "Unplanned", None),
        ("d2", "L1", t, "M_B", None, "Unplanned", None),  # same stop, 2nd machine
        ("d3", "L1", t + timedelta(minutes=30), "M_A", None, "Unplanned", None),
    ]
    df = spark.createDataFrame(
        rows,
        "downtime_id string, LINE string, START_TIME timestamp, MACHINE string,"
        " LineStatus string, dtCategory string, CAUSE_LEVELS_1_NAME string",
    )
    flagged = with_derived_flags(df)
    v = downtime_variants(flagged, multi_constraint=True)
    got = [(r.downtime_id, r.MACHINE) for r in v["line_dt_full"].collect()]
    assert sorted(got) == [("d1", "M_A"), ("d3", "M_A")]  # min-id survivor
    # without the flag, nothing is deduped
    v0 = downtime_variants(flagged, multi_constraint=False)
    assert v0["line_dt_full"].count() == 3


def test_multi_constraint_divide_knob(spark):
    # multi_constraint_divide_by_machines=False = R composition
    # (dedup only): CO_DOWNTIME is the plain per-session sum.
    from fhc_rco_etl_scalable_spark.plans.rco_pipeline import (
        SiteParams,
        aggregate_changeovers,
    )
    from pyspark.sql import functions as F

    t = datetime(2024, 1, 1, 6, 0)
    co_events = spark.createDataFrame(
        [
            ("L1", "CO1", t, t + timedelta(minutes=10), 10.0, 5.0, "M_A", "e1"),
            ("L1", "CO1", t + timedelta(minutes=20), t + timedelta(minutes=30), 10.0, 5.0, "M_B", "e2"),
        ],
        "LINE string, CO_Identifier string, START_TIME timestamp,"
        " END_TIME timestamp, DOWNTIME double, UPTIME double,"
        " MACHINE string, downtime_id string",
    )
    divided = aggregate_changeovers(
        co_events, SiteParams(run_multi_constraint_analysis=True)
    ).select("CO_DOWNTIME").first().CO_DOWNTIME
    assert divided == 10.0  # 20 / 2 machines (python-port composition)
    plain = aggregate_changeovers(
        co_events,
        SiteParams(
            run_multi_constraint_analysis=True,
            multi_constraint_divide_by_machines=False,
        ),
    ).select("CO_DOWNTIME").first().CO_DOWNTIME
    assert plain == 20.0  # R composition: dedup only, no division


def test_daily_cause_summary_wide_by_cause(spark):
    """Daily_Cause_Summary (r13): per-(Date, LINE) downtime minutes
    wide by cause level-2 through the one-shuffle pivot, wired into
    site_etl via cause_summary_categories. Explicit list = explicit
    omission (unlisted 'Starved' contributes nothing); a day with no
    rows of a listed category carries NULL; minutes sum exactly in
    DECIMAL(18,4) and surface rounded DOUBLE."""
    from fhc_rco_etl_scalable_spark.plans.site_etl import (
        daily_cause_summary,
        site_etl,
    )

    rows = [
        _dt("d1", "L1", "L1 CM", 0, 10, 30, "A", "Planned Downtime", "Changeover"),
        _dt("d2", "L1", "L1 CM", 20, 5.25, 10, "B", "Planned Downtime", "Changeover"),
        _dt("f1", "L1", "L1 CM", 60, 2, 35, "B", "Unplanned Downtime", "Failure"),
        _dt("s1", "L1", "L1 CM", 95, 1, 2, "B", "Unplanned Downtime", "Starved",
            cat="DTMach-Starved"),
        _dt("n1", "L1", "L1 CM", 24 * 60 + 10, 4, 400, "B",
            "Unplanned Downtime", "Failure"),
    ]
    downtime = spark.createDataFrame(rows, DT_SCHEMA)
    flagged = with_derived_flags(downtime, None)
    line_dt_full = downtime_variants(flagged)["line_dt_full"]
    out = daily_cause_summary(
        line_dt_full, ("Changeover", "Failure"), "SRV"
    )
    assert out.columns == [
        "Date", "LINE", "changeover_min", "failure_min", "Server",
    ]
    got = {str(r.Date): (r.changeover_min, r.failure_min, r.Server)
           for r in out.collect()}
    assert got == {
        "2024-01-01": (15.25, 2.0, "SRV"),
        "2024-01-02": (None, 4.0, "SRV"),
    }
    # slug collision fails fast
    with pytest.raises(ValueError, match="collide"):
        daily_cause_summary(line_dt_full, ("A b", "a_B"), "SRV")
    # wired through site_etl: the extra output appears only on request
    site = SiteParams(
        server="SRV", cause_summary_categories=("Changeover", "Failure")
    )
    outs = site_etl(downtime, None, site, data_update_time=datetime(2024, 1, 5))
    assert "Daily_Cause_Summary" in outs
    assert outs["Daily_Cause_Summary"].count() == 2
