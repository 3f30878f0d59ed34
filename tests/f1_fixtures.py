"""Deterministic F1 fixture tables exercising every FIXTURES.md edge
case: lap-time ties broken by date_start, pit-out laps with absurdly
fast times, null sectors, stint gaps, null compounds, zero-lap drivers,
all-null-lap-time drivers, misaligned telemetry/location timestamps, and
the lap-window fallbacks: fastest laps that are a driver's last lap, one
with a NULL lap_duration, and one whose lap N+1 is missing."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import SparkSession

from formula1_dataengineering_spark.f1.schemas import F1_SCHEMAS

QUALI_KEY = 9001
RACE_KEY = 9002

Q_START = datetime(2024, 5, 1, 14, 0, 0)
R_START = datetime(2024, 5, 3, 15, 0, 0)


def _lap(sk, d, n, ts, total, pit=False, null_sectors=False, null_duration=False):
    if null_sectors or total is None:
        s1 = s2 = s3 = None
        dur = None
    else:
        s1, s2 = 30.0, 30.0
        s3 = round(total - 60.0, 3)
        dur = None if null_duration else total
    return (sk, d, n, ts, dur, s1, s2, s3, pit)


def build_tables(spark: SparkSession) -> dict:
    laps = []
    # --- Qualifying session: 20 drivers, Q1/Q2/Q3 windows -------------
    for d in range(1, 21):
        # Q1 laps (first 18 minutes)
        t0 = Q_START + timedelta(minutes=2, seconds=10 * d)
        laps.append(_lap(QUALI_KEY, d, 1, t0, 95.0 + d * 0.1))
        # d20's best (and last) lap has no lap_duration: 120 s window
        laps.append(
            _lap(QUALI_KEY, d, 2, t0 + timedelta(minutes=4), 90.0 + d * 0.1,
                 null_duration=d == 20)
        )
    # d19 has no lap 3: its best lap 2 ends by lap_duration, not at lap 4
    laps.append(
        _lap(QUALI_KEY, 19, 4, Q_START + timedelta(minutes=13), None, null_sectors=True)
    )
    for d in range(1, 16):
        # Q2 laps (25-40 min window)
        t0 = Q_START + timedelta(minutes=27, seconds=10 * d)
        laps.append(_lap(QUALI_KEY, d, 3, t0, 89.0 + d * 0.1))
    for d in range(1, 11):
        # Q3 laps (48+ min window)
        t0 = Q_START + timedelta(minutes=50, seconds=10 * d)
        best = 88.0 + d * 0.1
        if d == 2:
            best, t0 = 88.2, Q_START + timedelta(minutes=55)  # tie with d3, later
        if d == 3:
            best, t0 = 88.2, Q_START + timedelta(minutes=54)  # tie with d2, earlier
        laps.append(_lap(QUALI_KEY, d, 4, t0, best))
    # pit-out lap absurdly fast — must be excluded (P8)
    laps.append(
        _lap(QUALI_KEY, 5, 5, Q_START + timedelta(minutes=58), 10.0, pit=True)
    )
    # out-lap with null sectors — must not crash or rank (P9)
    laps.append(
        _lap(QUALI_KEY, 1, 5, Q_START + timedelta(minutes=57), None, null_sectors=True)
    )

    # --- Race session: stints with gap, null compound, null laps ------
    for d in (1, 2, 3):
        for n in range(1, 21):
            ts = R_START + timedelta(seconds=95 * (n - 1) + d)
            if d == 3:
                laps.append(_lap(RACE_KEY, d, n, ts, None, null_sectors=True))
            else:
                laps.append(_lap(RACE_KEY, d, n, ts, 95.0 + (d * 0.3) + (n % 5) * 0.2))

    stints = [
        (RACE_KEY, 1, 1, 1, 8, "SOFT", 0),
        (RACE_KEY, 1, 2, 10, 20, "HARD", 2),  # gap: lap 9 has no stint
        (RACE_KEY, 2, 1, 1, 12, "MEDIUM", 3),
        (RACE_KEY, 2, 2, 13, 20, "UNKNOWN", 0),  # NOT-IN filtered compound
        (RACE_KEY, 3, 1, 1, 20, None, None),  # null compound/age
        (QUALI_KEY, 1, 1, 1, 5, "SOFT", 0),
    ]

    drivers = [
        (QUALI_KEY, d, f"D{d:02d}", "aabbcc", "#aabbcc") for d in range(1, 21)
    ] + [
        (RACE_KEY, 1, "D01", "aabbcc", "#aabbcc"),
        (RACE_KEY, 2, "D02", "bbccdd", "#bbccdd"),
        (RACE_KEY, 3, "D03", "ccddee", "#ccddee"),
        (RACE_KEY, 4, "D04", "Unknown", "Unknown"),  # zero laps
    ]

    sessions = [
        (QUALI_KEY, 501, "Qualifying", "Qualifying", "TestRing", Q_START,
         Q_START + timedelta(minutes=60)),
        (RACE_KEY, 501, "Race", "Race", "TestRing", R_START,
         R_START + timedelta(minutes=95)),
    ]
    meetings = [(501, "Test Grand Prix 2024", 2024)]

    car_data, location = [], []
    base = R_START  # driver 1 lap 1 starts at R_START + 1s
    for i in range(0, 2000):  # 250 ms cadence, 500 s: through lap 5
        ts = base + timedelta(milliseconds=250 * i)
        car_data.append(
            (RACE_KEY, 1, ts, 180.0 + (i % 40) * 2.0, float(i % 100), 0.0, 1 + i % 8, 9000 + (i % 40) * 80)
        )
    for i in range(0, 900):  # 330 ms cadence, offset 50 ms
        ts = base + timedelta(milliseconds=50 + 330 * i)
        location.append((RACE_KEY, 1, ts, float(i % 70), float((i * 3) % 50), 1.0))

    pit = [
        (RACE_KEY, 501, 1, 9, 22.5),
        (RACE_KEY, 501, 2, 12, None),
    ]

    mk = lambda rows, name: spark.createDataFrame(rows, schema=F1_SCHEMAS[name])
    return {
        "laps": mk(laps, "laps"),
        "stints": mk(stints, "stints"),
        "drivers": mk(drivers, "drivers"),
        "sessions": mk(sessions, "sessions"),
        "meetings": mk(meetings, "meetings"),
        "car_data": mk(car_data, "car_data"),
        "location": mk(location, "location"),
        "pit": mk(pit, "pit"),
    }
