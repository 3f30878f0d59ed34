"""``F1Session`` — the lazy facade mirroring the reference's ``Session``
class (reference: src/session_object.py:24-257).

The reference eagerly materializes everything at construction: ~3 HTTP
round-trips × ~20 drivers, strictly sequential (so:135-154), cached in
a dict-of-DataFrames partitioned by driver (so:49). Here construction
binds lazy DataFrames filtered to one ``session_key``; every query
method returns a lazy plan, and the session-scoped laps view is
``.cache()``-ed once on first use (replacing both the reference's dict
cache and Streamlit's object cache, SURVEY §4.1 caching row).

At 100 TB: ``session_key`` predicates prune partitions (facts
partitioned by session/date), dimension joins broadcast, and the
per-driver dict disappears into ``Window.partitionBy(driver_number)``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import managed_cache
from ..operators.asof import asof_join
from .analytics import (
    assign_tire_information,
    avg_lap_time_by_driver_compound,
    fastest_lap_per_driver,
    qualifying_classification,
    session_position_order,
    with_actual_lap_time,
)


def _hold(method):
    """Build a facade method's result once and hold it until release(): a
    held DataFrame keeps its executed plan, so a re-pull skips planning and
    reuses the shuffle stages it already ran."""
    @functools.wraps(method)
    def held(self):
        if method.__name__ not in self._held:
            self._held[method.__name__] = method(self)
        return self._held[method.__name__]
    return held


def _lap_windows(laps: DataFrame) -> DataFrame:
    """``laps`` with [lap_start, lap_end): lap N ends where lap N+1 starts
    (keyed on lap_number, fixing so:178's positional bug, SURVEY §3.3),
    else lap_duration (120 s if NULL or 0) after it starts."""
    w = Window.partitionBy("session_key", "driver_number").orderBy("lap_number")
    dur = F.coalesce(F.nullif("lap_duration", F.lit(0.0)), F.lit(120.0))
    end = F.timestamp_micros(F.unix_micros("date_start") + F.round(dur * 1e6).cast("long"))
    has_next = F.lead("lap_number").over(w) == F.col("lap_number") + 1
    end = F.when(has_next, F.lead("date_start").over(w)).otherwise(end)
    return laps.withColumn("lap_start", F.col("date_start")).withColumn("lap_end", end)


class F1Session:
    """Per-session query facade over the F1 entity tables.

    ``tables`` maps entity name → DataFrame (any source: the schema-
    bound parquet catalog, JSON ingests, or literal fixtures in tests).
    Mirrors ``Session.__init__``'s eager loads (so:25-53) lazily.
    """

    def __init__(self, spark: SparkSession, session_key: int, tables: dict[str, DataFrame]):
        self.spark = spark
        self.session_key = session_key
        self._tables = tables
        self._laps_enriched: DataFrame | None = None
        self._held: dict[str, object] = {}

    def _t(self, name: str) -> DataFrame:
        df = self._tables[name]
        if "session_key" in df.columns:
            df = df.where(F.col("session_key") == self.session_key)
        return df

    # -- session metadata (so:97-103) ------------------------------------
    def session_info(self) -> dict:
        """Single-row metadata lookup; driver-side scalars like the
        reference's circuit/session_type attributes, read once per facade
        (each caller gets its own copy)."""
        return dict(self._session_info())

    @_hold
    def _session_info(self) -> dict:
        row = self._t("sessions").first()
        if row is None:
            return {"session_type": "Unknown", "circuit": "Unknown", "name": "Unknown"}
        d = row.asDict()
        # initcap'd like the reference's .capitalize() display form
        # (F4 — src/session_object.py:279, src/data_visualization.py:22)
        return {
            "session_type": (d.get("session_type") or "Unknown").capitalize(),
            "circuit": d.get("circuit_short_name") or "Unknown",
            "name": d.get("session_name") or "Unknown",
        }

    # -- laps + enrichment (so:135-154) ----------------------------------
    def laps(self) -> DataFrame:
        """Session laps with actual_lap_time, tire info, and driver
        acronym/color — the reference's per-driver loop collapsed into
        one plan: derived column + broadcast dim join + as-of stint
        join. Cached per facade instance."""
        if self._laps_enriched is None:
            laps = with_actual_lap_time(self._t("laps"))
            drivers = self._t("drivers").select(
                "session_key", "driver_number", "name_acronym", "team_colour"
            )
            enriched = assign_tire_information(laps, self._t("stints")).join(
                F.broadcast(drivers), ["session_key", "driver_number"], "left"
            )
            # scope="session": the memo outlives any query-level
            # cache_scope active at first access — a scope exit must
            # not unpersist a handle the facade keeps serving
            # (ADVICE r10). Released by release() or release_caches().
            self._laps_enriched = managed_cache(enriched, scope="session")
        return self._laps_enriched

    def release(self) -> None:
        """Unpersist the memoized laps cache and drop it with the held
        session info and chart frames, so the next calls plan them again.
        The explicit owner-side release point for callers that do not
        want to drain the whole session registry via ``release_caches``."""
        self._held.clear()
        if self._laps_enriched is not None:
            try:
                self._laps_enriched.unpersist(blocking=False)
            except Exception:
                pass
            self._laps_enriched = None

    # -- rankings (so:156-174) -------------------------------------------
    def fastest_laps(self) -> DataFrame:
        return fastest_lap_per_driver(self.laps())

    def position_order(self) -> DataFrame:
        return session_position_order(self.laps())

    @_hold
    def fastest_laps_chart_data(self) -> DataFrame:
        """Chart-ready fastest-lap comparison: the data layer of the
        reference's ``compare_fastest_lap_characteristics`` /
        ``plot_fastest_laps`` figures (K1 — src/session_object.py:259-311,
        src/data_visualization.py:3-49). Per driver: best lap, formatted
        ``M:SS.mmm`` label (F2 as a pure column expression, no UDF),
        acronym, team colour and the lap's number and window, ordered by
        position. Rendering stays at the presentation edge via
        ``.toPandas()``."""
        from ..functions.timefmt import format_lap_time

        w = Window.orderBy(
            F.col("actual_lap_time").asc(), F.col("date_start").asc()
        )
        return (
            fastest_lap_per_driver(_lap_windows(self.laps()))
            .withColumn("position", F.row_number().over(w))
            .withColumn("lap_time_label", format_lap_time(F.col("actual_lap_time")))
            .select(
                "position",
                "driver_number",
                "name_acronym",
                "team_colour",
                "actual_lap_time",
                "lap_time_label",
                "lap_number", "lap_start", "lap_end",
            )
        )

    # -- qualifying (dp:199-291 lifecycle) -------------------------------
    def qualifying_results(self) -> DataFrame:
        info = self.session_info()
        if info["session_type"] != "Qualifying":
            raise ValueError(
                f"session {self.session_key} is {info['session_type']!r}, "
                "not Qualifying"
            )
        return qualifying_classification(self._t("laps"), self._t("sessions"))

    # -- compound analytics (classes.py path) ----------------------------
    def avg_lap_by_compound(self) -> DataFrame:
        return avg_lap_time_by_driver_compound(self.laps())

    @_hold
    def avg_lap_by_compound_chart_data(self) -> DataFrame:
        """Chart-ready driver × compound averages: the data layer of the
        reference's ``LapTimePlotByTireAndSession`` figure (K1 —
        classes.py:49-140), with the driver acronym broadcast-joined
        back on for axis labels (the reference resolves abbreviations
        per driver in its fill loop, cl:73-77)."""
        drivers = self._t("drivers").select(
            "session_key", "driver_number", "name_acronym"
        )
        return self.avg_lap_by_compound().join(
            F.broadcast(drivers), ["session_key", "driver_number"], "left"
        )

    # -- pit stops (so:220-226) ------------------------------------------
    def pit_stops(self, driver_number: int) -> DataFrame:
        return (
            self._t("pit")
            .where(F.col("driver_number") == driver_number)
            .drop("meeting_key", "session_key")
        )

    # -- lap bounds + telemetry (so:176-218, so:228-238) ------------------
    def lap_bounds(self, driver_number: int, lap_number: int) -> tuple:
        """[start, end) of one lap by the :func:`_lap_windows` rule, over
        the lap and its successor in one partition (so no shuffle)."""
        laps = self.laps().where(F.col("driver_number") == driver_number)
        laps = laps.where(F.col("lap_number").isin(lap_number, lap_number + 1)).coalesce(1)
        rows = _lap_windows(laps).where(F.col("lap_number") == lap_number).collect()
        if not rows:
            raise KeyError(f"driver {driver_number} has no lap {lap_number}")
        return rows[0]["lap_start"], rows[0]["lap_end"]

    def lap_telemetry(self, driver_number: int, lap_number: int, window=None) -> DataFrame:
        """Telemetry samples for one lap with seconds_from_lap_start
        (P4/P6/P7 — so:193-218). The date predicate is a pushed-down
        range filter → partition/row-group pruning at scale. A known
        ``window=(start, end)`` skips the :meth:`lap_bounds` lookup."""
        start, end = window or self.lap_bounds(driver_number, lap_number)
        car = self._t("car_data").where(F.col("driver_number") == driver_number)
        return car.where(F.col("date").between(F.lit(start), F.lit(end))).withColumn(
            "seconds_from_lap_start",
            (F.unix_micros(F.col("date")) - F.unix_micros(F.lit(start))) / 1e6,
        )

    def lap_track_position(self, driver_number: int, lap_number: int) -> DataFrame:
        """Track-position pings for one lap (so:228-238)."""
        start, end = self.lap_bounds(driver_number, lap_number)
        loc = self._t("location").where(F.col("driver_number") == driver_number)
        return loc.where(F.col("date").between(F.lit(start), F.lit(end)))

    def track_position_with_gear(self, driver_number: int, lap_number: int) -> DataFrame:
        """Telemetry × location nearest-as-of join (J3 — so:240-250):
        every telemetry sample annotated with the nearest location
        ping. Uses the scalable union-sort as-of (both sides large)."""
        tel = self.lap_telemetry(driver_number, lap_number)
        loc = self.lap_track_position(driver_number, lap_number).select(
            "driver_number", "date", "x", "y", "z"
        )
        return asof_join(
            tel,
            loc,
            on="date",
            by="driver_number",
            direction="nearest",
            right_cols=["x", "y", "z"],
        )


def f1_weekends(meetings: DataFrame, year: int) -> DataFrame:
    """Meetings catalog for a year (S8 — reference:
    src/helper_functions.py:33-42)."""
    return (
        meetings.where(F.col("year") == year)
        .select("meeting_official_name", "meeting_key")
        .distinct()
    )


def sessions_in_weekend(sessions: DataFrame, meeting_key: int) -> DataFrame:
    """Sessions catalog for a weekend (S9 — reference:
    src/helper_functions.py:44-53)."""
    return (
        sessions.where(F.col("meeting_key") == meeting_key)
        .select("session_name", "session_key")
        .distinct()
    )
