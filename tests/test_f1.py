"""End-to-end tests of the F1 facade over fixture tables — the golden
tests SURVEY §5.3 calls for (the reference ships none)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from formula1_dataengineering_spark.f1.analytics import (
    assign_tire_information,
    with_actual_lap_time,
)
from formula1_dataengineering_spark.f1.session_facade import (
    F1Session,
    f1_weekends,
    sessions_in_weekend,
)

from .f1_fixtures import QUALI_KEY, RACE_KEY, build_tables


@pytest.fixture(scope="module")
def tables(spark):
    return build_tables(spark)


@pytest.fixture(scope="module")
def quali(spark, tables):
    return F1Session(spark, QUALI_KEY, tables)


@pytest.fixture(scope="module")
def race(spark, tables):
    return F1Session(spark, RACE_KEY, tables)


def test_session_info(quali):
    info = quali.session_info()
    assert info == {
        "session_type": "Qualifying",
        "circuit": "TestRing",
        "name": "Qualifying",
    }


def test_tire_assignment_validity_window(race, tables):
    laps = with_actual_lap_time(tables["laps"]).where(
        F.col("session_key") == RACE_KEY
    )
    out = assign_tire_information(laps, tables["stints"]).toPandas()
    d1 = out[out.driver_number == 1].set_index("lap_number")
    # inside stint 1
    assert d1.loc[5, "compound"] == "SOFT"
    assert d1.loc[5, "tire_age"] == 4  # 5 - 1 + 0
    # gap lap: no stint covers lap 9 (P16 null-out)
    assert pd.isna(d1.loc[9, "compound"])
    assert pd.isna(d1.loc[9, "tire_age"])
    # stint 2 resumes
    assert d1.loc[10, "compound"] == "HARD"
    assert d1.loc[10, "tire_age"] == 2  # 10 - 10 + 2
    assert d1.loc[20, "tire_age"] == 12
    # null compound stint keeps nulls but stays valid
    d3 = out[out.driver_number == 3].set_index("lap_number")
    assert pd.isna(d3.loc[5, "compound"])
    # every lap matched at most one stint (as-of invariant)
    assert out.groupby(["driver_number", "lap_number"]).size().max() == 1


def test_fastest_laps_tie_break(quali):
    best = quali.fastest_laps().toPandas().set_index("driver_number")
    # driver 3 and 2 both best 88.2; both have their Q3 lap as best
    assert best.loc[2, "actual_lap_time"] == 88.2
    assert best.loc[3, "actual_lap_time"] == 88.2
    order = quali.position_order().toPandas()
    pos = order.set_index("driver_number")["position"]
    # position_order mirrors the reference's get_session_position_order
    # (so:167-174): raw best laps, pit-out NOT excluded — d5's 10.0 s
    # pit-out lap ranks first here (the qualifying pipeline filters it).
    assert pos[5] == 1
    assert pos[1] == 2
    assert pos[3] == 3  # earlier date_start wins the tie
    assert pos[2] == 4


def test_position_order_is_permutation(quali):
    order = quali.position_order().toPandas()
    # drivers with at least one valid lap: all 20 (null-sector lap on d1
    # doesn't erase its valid laps)
    assert sorted(order["position"]) == list(range(1, 21))


def test_qualifying_grid(quali):
    grid = quali.qualifying_results().toPandas().set_index("grid_position")
    assert len(grid) == 20
    # Q3 top-10: d1, then tie d3 before d2, then d4..d10
    assert list(grid.loc[1:10, "driver_number"]) == [1, 3, 2, 4, 5, 6, 7, 8, 9, 10]
    # Q2 eliminated: drivers 11-15 in their Q2 order
    assert list(grid.loc[11:15, "driver_number"]) == [11, 12, 13, 14, 15]
    assert set(grid.loc[11:15, "qualifying"]) == {"Q2"}
    # Q1 eliminated: drivers 16-20
    assert list(grid.loc[16:20, "driver_number"]) == [16, 17, 18, 19, 20]
    # the 10.0s pit-out lap of d5 was excluded: d5 sits at position 5
    assert grid.loc[5, "driver_number"] == 5


def test_qualifying_guard_on_race(race):
    with pytest.raises(ValueError, match="not Qualifying"):
        race.qualifying_results()


def test_avg_lap_by_compound_filters(race):
    out = race.avg_lap_by_compound().toPandas()
    # UNKNOWN compound (d2 stint 2) and null compounds (d3) excluded
    assert set(out["compound"]) == {"SOFT", "HARD", "MEDIUM"}
    d2 = out[(out.driver_number == 2) & (out.compound == "MEDIUM")]
    assert d2["n_laps"].iloc[0] == 12


def test_lap_telemetry_bounds(race):
    tel = race.lap_telemetry(1, 2).toPandas()
    # lap 2 of driver 1: [start_lap2, start_lap3) at 95 s cadence → 95/0.25
    assert abs(len(tel) - 380) <= 1
    assert (tel["seconds_from_lap_start"] >= 0).all()
    assert (tel["seconds_from_lap_start"] <= 95.0).all()


def test_chart_lap_windows_follow_lap_bounds(quali, race):
    """The chart frame's lap window and lap_bounds apply one rule for
    every driver in both sessions, fallbacks included: a best lap that
    is the driver's last (its lap_duration), one with a NULL
    lap_duration (120 s) and one with lap N+1 missing (d19 has a lap 4
    but no lap 3). Telemetry over the passed window equals the lookup."""
    from datetime import timedelta

    for sess in (quali, race):
        rows = sess.fastest_laps_chart_data().collect()
        assert rows
        for r in rows:
            window = (r["lap_start"], r["lap_end"])
            assert window == sess.lap_bounds(r["driver_number"], r["lap_number"])
    q = {r["driver_number"]: r for r in quali.fastest_laps_chart_data().collect()}
    span = {d: q[d]["lap_end"] - q[d]["lap_start"] for d in (11, 19, 20)}
    assert span == {
        11: timedelta(seconds=90.1),
        19: timedelta(seconds=91.9),
        20: timedelta(seconds=120),
    }
    (r,) = [r for r in race.fastest_laps_chart_data().collect() if r["driver_number"] == 1]
    window = (r["lap_start"], r["lap_end"])
    passed = race.lap_telemetry(1, r["lap_number"], window=window).collect()
    looked_up = race.lap_telemetry(1, r["lap_number"]).collect()
    assert passed and sorted(passed) == sorted(looked_up)


def test_nearest_asof_matches_pandas(race):
    got = (
        race.track_position_with_gear(1, 1)
        .select("date", "date_right", "x", "y")
        .toPandas()
        .sort_values("date", ignore_index=True)
    )
    tel = race.lap_telemetry(1, 1).select("date").toPandas().sort_values("date")
    loc = race.lap_track_position(1, 1).select("date", "x", "y").toPandas().sort_values("date")
    want = pd.merge_asof(
        tel, loc.rename(columns={"date": "date_loc"}),
        left_on="date", right_on="date_loc", direction="nearest",
    ).sort_values("date", ignore_index=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["date_right"], want["date_loc"], check_names=False
    )
    pd.testing.assert_series_equal(got["x"], want["x"], check_names=False)


def test_pit_stops(race):
    out = race.pit_stops(1).toPandas()
    assert list(out.columns) == ["driver_number", "lap_number", "pit_duration"]
    assert len(out) == 1 and out["pit_duration"].iloc[0] == 22.5


def test_catalogs(spark, tables):
    wk = f1_weekends(tables["meetings"], 2024).toPandas()
    assert wk.values.tolist() == [["Test Grand Prix 2024", 501]]
    ss = sessions_in_weekend(tables["sessions"], 501).toPandas()
    assert sorted(ss["session_name"]) == ["Qualifying", "Race"]


def test_zero_lap_driver_absent_from_rankings(race):
    order = race.position_order().toPandas()
    assert 4 not in set(order["driver_number"])
    # driver 3 (all-null lap times) also absent (dp:114-115 case)
    assert 3 not in set(order["driver_number"])


def test_race_positions_by_lap(spark):
    import tests.f1_fixtures as fx
    from formula1_dataengineering_spark.f1.analytics import (
        race_positions_by_lap,
        with_actual_lap_time,
    )
    from pyspark.sql import functions as F

    tables = fx.build_tables(spark)
    laps = with_actual_lap_time(tables["laps"]).where(
        F.col("session_key") == fx.RACE_KEY
    )
    out = race_positions_by_lap(laps).toPandas()

    # defined positions are a permutation 1..k within every lap;
    # unknown rows (null-time lap or any prior null lap) carry null
    # race_time AND null position rather than a rank built on an
    # undercounted cumulative time
    for lap, grp in out.groupby("lap_number"):
        defined = grp[grp["position"].notna()]
        assert sorted(defined["position"]) == list(range(1, len(defined) + 1))
        assert grp[grp["race_time"].isna()]["position"].isna().all()
    for d, grp in out.groupby("driver_number"):
        grp = grp.sort_values("lap_number")
        seen_null = grp["race_time"].isna().cummax()
        assert grp.loc[seen_null.values, "race_time"].isna().all()
    # fixture race pace is strictly ordered by driver number -> driver 0
    # holds P1 on every lap it completes
    d0 = out[out["driver_number"] == 0]
    assert (d0["position"] == 1).all()
    # first lap has no previous position
    assert out[out["lap_number"] == out["lap_number"].min()]["position_change"].isna().all()
    # net position change telescopes over the defined prefix
    for d, grp in out.groupby("driver_number"):
        grp = grp.sort_values("lap_number")
        grp = grp[grp["position"].notna()]
        if len(grp) < 2:
            continue
        net = grp["position_change"].dropna().sum()
        assert net == grp["position"].iloc[0] - grp["position"].iloc[-1]


def test_incomplete_tire_data_flags(spark):
    import tests.f1_fixtures as fx
    from formula1_dataengineering_spark.f1.analytics import (
        assign_tire_information,
        incomplete_tire_data_flags,
        with_actual_lap_time,
    )
    from pyspark.sql import functions as F

    tables = fx.build_tables(spark)
    laps = with_actual_lap_time(tables["laps"]).where(
        F.col("session_key") == fx.RACE_KEY
    )
    tires = assign_tire_information(laps, tables["stints"])
    flags = {
        (r["driver_number"]): r["incomplete_tire_data"]
        for r in incomplete_tire_data_flags(tires).collect()
    }
    # fixture race has stint gaps (laps between stints -> null compound)
    assert any(flags.values())
    # and flags must agree with a direct null scan
    direct = {
        r["driver_number"]: r["n"] > 0
        for r in tires.groupBy("driver_number")
        .agg(F.count(F.when(F.col("compound").isNull(), 1)).alias("n"))
        .collect()
    }
    for d, has_null_compound in direct.items():
        if has_null_compound:
            assert flags[d]


def test_fastest_laps_chart_data(spark):
    import tests.f1_fixtures as fx
    from formula1_dataengineering_spark.f1.session_facade import F1Session

    tables = fx.build_tables(spark)
    sess = F1Session(spark, fx.QUALI_KEY, tables)
    rows = sess.fastest_laps_chart_data().collect()
    # ordered 1..n, one row per driver with a lap
    assert [r["position"] for r in rows] == list(range(1, len(rows) + 1))
    times = [r["actual_lap_time"] for r in rows]
    assert times == sorted(times)
    # M:SS.mmm label matches the numeric value
    for r in rows:
        m, rest = r["lap_time_label"].split(":")
        s, ms = rest.split(".")
        assert abs(int(m) * 60 + int(s) + int(ms) / 1000 - r["actual_lap_time"]) < 0.0015


def test_qualifying_grid_multi_session_independence(spark):
    """Two sessions in one input produce two INDEPENDENT grids —
    ranks, offsets, and positions never mix across session_key."""
    import datetime as dt

    from formula1_dataengineering_spark.f1.analytics import qualifying_classification

    def mk(session, t0):
        laps, sessions = [], []
        sessions.append((session, t0, t0 + dt.timedelta(minutes=60)))
        for d in range(6):
            for q_off, nq in ((0, 1), (26 * 60, 1), (49 * 60, 1)):
                start = t0 + dt.timedelta(seconds=q_off + 60 + d)
                laps.append(
                    (session, d, start, d * 3 + 1, 30.0 + d, 30.0, 30.0, False)
                )
        return laps, sessions

    t0 = dt.datetime(2024, 1, 1)
    l1, s1 = mk("sessA", t0)
    l2, s2 = mk("sessB", t0 + dt.timedelta(hours=3))
    laps = spark.createDataFrame(
        l1 + l2,
        "session_key string, driver_number int, date_start timestamp, "
        "lap_number int, duration_sector_1 double, duration_sector_2 double, "
        "duration_sector_3 double, is_pit_out_lap boolean",
    )
    sessions = spark.createDataFrame(
        s1 + s2, "session_key string, date_start timestamp, date_end timestamp"
    )
    grid = qualifying_classification(laps, sessions).toPandas()
    assert set(grid["session_key"]) == {"sessA", "sessB"}
    for sk, g in grid.groupby("session_key"):
        # per-session positions start at 1 and are consecutive
        assert sorted(g["grid_position"]) == list(range(1, len(g) + 1))
    # the two grids are identical shapes (same synthetic field)
    a = grid[grid["session_key"] == "sessA"].sort_values("grid_position")
    b = grid[grid["session_key"] == "sessB"].sort_values("grid_position")
    assert list(a["driver_number"]) == list(b["driver_number"])


def test_qualifying_elimination_windows_stable_under_missing_driver(spark):
    """Eliminated = ranked in a segment and absent from the next: a
    driver with no valid Q2 time classifies by their last segment (Q1)
    instead of shifting a cutoff onto an advancing driver, and no
    driver ever appears twice."""
    import datetime as dt

    from formula1_dataengineering_spark.f1.analytics import qualifying_classification

    t0 = dt.datetime(2024, 3, 1)
    laps = []
    n = 16
    for d in range(n):
        for seg, q_off in (("Q1", 0), ("Q2", 26 * 60), ("Q3", 49 * 60)):
            if seg == "Q2" and d in (11, 15):
                continue  # 11: no valid Q2 time; 15: eliminated in Q1
            if seg == "Q3" and d >= 10:
                continue  # only the top 10 run Q3
            start = t0 + dt.timedelta(seconds=q_off + 60 + d)
            laps.append(("s", d, start, d * 3 + 1, 30.0 + d, 30.0, 30.0, False))
    laps_df = spark.createDataFrame(
        laps,
        "session_key string, driver_number int, date_start timestamp, "
        "lap_number int, duration_sector_1 double, duration_sector_2 double, "
        "duration_sector_3 double, is_pit_out_lap boolean",
    )
    sessions = spark.createDataFrame(
        [("s", t0, t0 + dt.timedelta(minutes=60))],
        "session_key string, date_start timestamp, date_end timestamp",
    )
    grid = qualifying_classification(laps_df, sessions).toPandas()
    # no driver twice; every participant classifies exactly once
    assert grid["driver_number"].is_unique
    # Q2-eliminated = ran Q2, absent from Q3: {10, 12, 13, 14}
    # (11 set no Q2 time -> classifies by Q1; 15 never ran Q2)
    q2 = set(grid[grid["qualifying"] == "Q2"]["driver_number"])
    assert q2 == {10, 12, 13, 14}
    # Q1-eliminated = ran Q1, absent from Q2: {11, 15}
    q1 = set(grid[grid["qualifying"] == "Q1"]["driver_number"])
    assert q1 == {11, 15}
    assert set(grid[grid["qualifying"] == "Q3"]["driver_number"]) == set(range(10))
    assert len(grid) == 16


def test_red_flag_signal_propagates_to_grid(spark):
    """An over-long session (reference raises, dp:218-220) surfaces as
    session_red_flag=True on every grid row instead of vanishing."""
    import datetime as dt

    from formula1_dataengineering_spark.f1.analytics import qualifying_classification

    t0 = dt.datetime(2024, 5, 1)
    laps = spark.createDataFrame(
        [("s", 1, t0 + dt.timedelta(seconds=90), 1, 30.0, 30.0, 30.0, False)],
        "session_key string, driver_number int, date_start timestamp, "
        "lap_number int, duration_sector_1 double, duration_sector_2 double, "
        "duration_sector_3 double, is_pit_out_lap boolean",
    )
    for minutes, expect in ((60, False), (80, True)):
        sessions = spark.createDataFrame(
            [("s", t0, t0 + dt.timedelta(minutes=minutes))],
            "session_key string, date_start timestamp, date_end timestamp",
        )
        rows = qualifying_classification(laps, sessions).collect()
        assert rows and all(r.session_red_flag == expect for r in rows), minutes


def test_qualifying_oversized_q3_keeps_every_participant(spark):
    """A degenerate 11-car Q3 (e.g. a P10 tie advanced 11 cars) yields
    11 Q3 positions — no driver silently vanishes from the grid."""
    import datetime as dt

    from formula1_dataengineering_spark.f1.analytics import qualifying_classification

    t0 = dt.datetime(2024, 6, 1)
    laps = []
    for d in range(16):
        for seg, q_off in (("Q1", 0), ("Q2", 26 * 60), ("Q3", 49 * 60)):
            if seg == "Q2" and d >= 15:
                continue
            if seg == "Q3" and d >= 11:  # ELEVEN drivers run Q3
                continue
            start = t0 + dt.timedelta(seconds=q_off + 60 + d)
            laps.append(("s", d, start, d * 3 + 1, 30.0 + d, 30.0, 30.0, False))
    laps_df = spark.createDataFrame(
        laps,
        "session_key string, driver_number int, date_start timestamp, "
        "lap_number int, duration_sector_1 double, duration_sector_2 double, "
        "duration_sector_3 double, is_pit_out_lap boolean",
    )
    sessions = spark.createDataFrame(
        [("s", t0, t0 + dt.timedelta(minutes=60))],
        "session_key string, date_start timestamp, date_end timestamp",
    )
    grid = qualifying_classification(laps_df, sessions).toPandas()
    assert len(grid) == 16 and grid["driver_number"].is_unique
    q3 = grid[grid["qualifying"] == "Q3"]
    assert set(q3["driver_number"]) == set(range(11))
    assert sorted(grid["grid_position"]) == list(range(1, 17))


def test_qualifying_q3_driver_without_q2_time_places_once(spark):
    """Round-2 ADVICE: a driver with Q3 and Q1 bests but NO Q2 time
    (irregular field) must classify exactly once, in the Q3 block —
    the Q1 block gates on absence from BOTH later segments."""
    import datetime as dt

    from formula1_dataengineering_spark.f1.analytics import qualifying_classification

    t0 = dt.datetime(2024, 6, 1)
    laps = []
    for d in (0, 1, 2):
        for seg, q_off in (("Q1", 0), ("Q2", 26 * 60), ("Q3", 49 * 60)):
            if seg == "Q2" and d == 0:
                continue  # the irregular driver: Q1 + Q3, no Q2
            start = t0 + dt.timedelta(seconds=q_off + 60 + d)
            laps.append(("s", d, start, d + 1, 30.0 + d, 30.0, 30.0, False))
    laps_df = spark.createDataFrame(
        laps,
        "session_key string, driver_number int, date_start timestamp, "
        "lap_number int, duration_sector_1 double, duration_sector_2 double, "
        "duration_sector_3 double, is_pit_out_lap boolean",
    )
    sessions = spark.createDataFrame(
        [("s", t0, t0 + dt.timedelta(minutes=60))],
        "session_key string, date_start timestamp, date_end timestamp",
    )
    grid = qualifying_classification(laps_df, sessions).toPandas()
    assert grid["driver_number"].is_unique
    assert len(grid) == 3
    d0 = grid[grid["driver_number"] == 0]
    assert list(d0["qualifying"]) == ["Q3"]
