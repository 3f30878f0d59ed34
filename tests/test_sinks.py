"""Sinks (K1/K2): SVG chart renderers + static HTML dashboard.

The engine-side guarantees under test: well-formed standalone SVG,
every data row represented as a mark with a native tooltip, direct
labels so identity/value never live in color alone, reference-faithful
overlays (qualifying separators, compound labels), and a dashboard that
embeds the figures plus a table view of the exact chart data.
"""

from __future__ import annotations

import math
import xml.etree.ElementTree as ET

import pandas as pd
import pytest

from formula1_dataengineering_spark.sinks import (
    COMPOUND_COLORS,
    avg_lap_by_compound_svg,
    dashboard_html,
    fastest_laps_svg,
    fmt_lap_time,
    session_report_html,
    telemetry_svg,
)
from formula1_dataengineering_spark.sinks.svg import nice_ticks

from .f1_fixtures import QUALI_KEY, RACE_KEY, build_tables


def _parse(svg: str) -> ET.Element:
    return ET.fromstring(svg)  # raises on malformed XML


def _chart_pdf(n=6, compound=True, qualifying=False):
    rows = []
    segs = ["Q3"] * 2 + ["Q2"] * 2 + ["Q1"] * 2
    comps = ["SOFT", "MEDIUM", "HARD", "SOFT", "WET", "INTERMEDIATE"]
    for i in range(n):
        rows.append(
            {
                "position": i + 1,
                "driver_number": i + 1,
                "name_acronym": f"D{i + 1:02d}",
                "actual_lap_time": 80.0 + i * 0.5,
                "lap_time_label": fmt_lap_time(80.0 + i * 0.5),
                **({"compound": comps[i % 6]} if compound else {}),
                **({"qualifying": segs[i % 6]} if qualifying else {}),
            }
        )
    return pd.DataFrame(rows)


def test_fmt_lap_time():
    assert fmt_lap_time(80.123) == "1:20.123"
    assert fmt_lap_time(59.9995) == "1:00.000"  # rounds, carries
    assert fmt_lap_time(0.0) == "0:00.000"
    assert fmt_lap_time(float("nan")) == ""


def test_nice_ticks_cover_domain():
    ticks = nice_ticks(78.2, 91.7, 5)
    assert ticks and ticks[0] >= 78.2 and ticks[-1] <= 91.7 + 1e-9
    steps = {round(b - a, 9) for a, b in zip(ticks, ticks[1:])}
    assert len(steps) == 1  # uniform


def test_fastest_laps_svg_marks_and_labels():
    pdf = _chart_pdf()
    svg = fastest_laps_svg(pdf, title="T")
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    bars = [p for p in root.iter(f"{ns}path") if p.get("fill")]
    assert len(bars) == len(pdf)
    # every bar: native tooltip naming the driver and time
    for p, (_, row) in zip(bars, pdf.iterrows()):
        t = p.find(f"{ns}title")
        assert t is not None and row["name_acronym"] in t.text
        assert row["lap_time_label"] in t.text
    # compound coloring is entity-anchored, and the compound name is a
    # visible direct label (color never the only encoding)
    texts = [t.text for t in root.iter(f"{ns}text") if t.text]
    for comp in pdf["compound"].unique():
        assert comp.capitalize() in texts
    assert bars[0].get("fill") == COMPOUND_COLORS["SOFT"]
    assert bars[2].get("fill") == COMPOUND_COLORS["HARD"]
    # each driver's acronym and time label appear as text
    for _, row in pdf.iterrows():
        assert row["name_acronym"] in texts
        assert row["lap_time_label"] in texts


def test_fastest_laps_qualifying_overlays():
    svg = fastest_laps_svg(_chart_pdf(qualifying=True))
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    seps = [e for e in root.iter(f"{ns}line") if e.get("class") == "sep"]
    assert len(seps) == 2  # Q3|Q2 and Q2|Q1 boundaries
    texts = [t.text for t in root.iter(f"{ns}text")]
    assert {"Q3", "Q2", "Q1"} <= set(texts)


def test_fastest_laps_empty_and_null_rows():
    pdf = _chart_pdf()
    pdf.loc[2, "actual_lap_time"] = math.nan
    root = _parse(fastest_laps_svg(pdf))
    ns = "{http://www.w3.org/2000/svg}"
    assert len([p for p in root.iter(f"{ns}path") if p.get("fill")]) == len(pdf) - 1
    empty = fastest_laps_svg(pdf[pdf["actual_lap_time"].isna()])
    assert "no laps" in empty


def test_telemetry_svg_two_panels_one_axis_each():
    t = [i * 0.25 for i in range(200)]
    pdf = pd.DataFrame(
        {
            "seconds_from_lap_start": t,
            "speed": [200 + 60 * math.sin(v / 6) for v in t],
            "throttle": [max(0, 100 * math.sin(v / 6)) for v in t],
            "brake": [max(0, -80 * math.sin(v / 6)) for v in t],
        }
    )
    svg = telemetry_svg(pdf)
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    lines = [p for p in root.iter(f"{ns}path") if p.get("stroke")]
    assert len(lines) == 3  # speed / throttle / brake
    assert all(p.get("fill") == "none" and p.get("stroke-width") == "2" for p in lines)
    texts = [t.text for t in root.iter(f"{ns}text") if t.text]
    # direct series labels at line ends; per-panel unit labels
    for label in ("speed", "throttle", "brake"):
        assert label in texts
    assert any("Speed" in t for t in texts)
    assert any("Throttle / Brake" in t for t in texts)
    # x ticks carry the M:SS.mmm lap-clock format (reference dv:60)
    assert any(t.count(":") == 1 and "." in t for t in texts)


def test_dashboard_html_embeds_svg_and_table():
    pdf = _chart_pdf(3)
    svg = fastest_laps_svg(pdf)
    html = dashboard_html("Session 42", [("Fastest laps", svg, pdf)], subtitle="Race")
    assert html.startswith("<!doctype html>")
    assert svg in html
    assert "table view (3 rows)" in html
    for _, row in pdf.iterrows():
        assert row["name_acronym"] in html
    # escaping: adversarial heading cannot inject markup
    hostile = dashboard_html("<script>x</script>", [("<b>h</b>", "", None)])
    assert "<script>" not in hostile and "&lt;script&gt;" in hostile


@pytest.fixture(scope="module")
def tables(spark):
    return build_tables(spark)


def test_session_report_end_to_end(spark, tables):
    """K2 parity: full report for the fixture race session — both
    figures render from real facade queries (dashboard.py:88-117).
    A second page on the same facade pulls only the chart, compound
    and telemetry frames: session info and both chart frames are held,
    so at most 3 Spark jobs run. release() drops the held frames; the
    next page plans new ones and renders the same bytes."""
    from formula1_dataengineering_spark.f1.session_facade import F1Session

    f = F1Session(spark, RACE_KEY, tables)
    html = session_report_html(f, driver_number=1)
    assert "Fastest lap comparison" in html
    assert "Lap telemetry" in html
    assert "Average lap times by compound" in html
    assert html.count("<svg") == 3
    ET.fromstring(html[html.index("<svg") : html.index("</svg>") + 6])

    sc = spark.sparkContext
    held = (f.fastest_laps_chart_data(), f.avg_lap_by_compound_chart_data())
    sc.setJobGroup("warm-session-page", "second page on a warm facade")
    try:
        warm = session_report_html(f, driver_number=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("warm-session-page")) <= 3
    assert warm == html
    assert f.fastest_laps_chart_data() is held[0]
    assert f.avg_lap_by_compound_chart_data() is held[1]
    f.release()
    assert f.fastest_laps_chart_data() is not held[0]
    assert f.avg_lap_by_compound_chart_data() is not held[1]
    assert session_report_html(f, driver_number=1) == html
    f.release()

    quali = F1Session(spark, QUALI_KEY, tables)
    html_q = session_report_html(quali)
    assert html_q.count("<svg") == 2


def test_telemetry_all_null_series_renders_empty_panel():
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "seconds_from_lap_start": [0.0, 1.0, 2.0],
            "speed": [float("nan")] * 3,
            "throttle": [0.0, 50.0, 100.0],
            "brake": [float("nan")] * 3,
        }
    )
    svg = telemetry_svg(pdf)
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    lines = [p for p in root.iter(f"{ns}path") if p.get("stroke")]
    assert len(lines) == 1  # only throttle drew
    texts = [t.text for t in root.iter(f"{ns}text") if t.text]
    assert any("no Speed km/h data" in t for t in texts)


def _compound_pdf():
    """Long-form driver × compound averages; driver B is fastest on
    MEDIUM, driver C has no MEDIUM time (must sort last, cl:93-95)."""
    return pd.DataFrame(
        [
            {"name_acronym": "AAA", "compound": "MEDIUM", "avg_lap_time": 81.5},
            {"name_acronym": "AAA", "compound": "SOFT", "avg_lap_time": 80.2},
            {"name_acronym": "BBB", "compound": "MEDIUM", "avg_lap_time": 80.9},
            {"name_acronym": "BBB", "compound": "HARD", "avg_lap_time": 82.4},
            {"name_acronym": "CCC", "compound": "SOFT", "avg_lap_time": 79.8},
            {"name_acronym": "CCC", "compound": "WET", "avg_lap_time": 95.1},
        ]
    )


def test_avg_lap_by_compound_svg_grouped_marks():
    """Reference LapTimePlotByTireAndSession parity (classes.py:101-140):
    one bar per (driver, compound) cell, compound colors + legend,
    per-bar formatted time labels."""
    pdf = _compound_pdf()
    svg = avg_lap_by_compound_svg(pdf)
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    bars = [p for p in root.iter(f"{ns}path") if p.get("fill")]
    assert len(bars) == len(pdf)
    fills = {p.get("fill") for p in bars}
    assert COMPOUND_COLORS["MEDIUM"] in fills
    assert COMPOUND_COLORS["WET"] in fills
    texts = [t.text for t in root.iter(f"{ns}text") if t.text]
    # legend entries (color never the only encoding)
    for comp in ("Soft", "Medium", "Hard", "Wet"):
        assert comp in texts
    # every cell's formatted time is a visible label
    for v in pdf["avg_lap_time"]:
        assert fmt_lap_time(v) in texts
    # every bar tooltip names driver · compound — time
    for p in bars:
        t = p.find(f"{ns}title")
        assert t is not None and "·" in t.text and "—" in t.text


def test_avg_lap_by_compound_driver_order_medium_sortkey():
    """Drivers sort by MEDIUM average (BBB < AAA); no-medium driver
    (CCC) goes last — the reference's SortKey NaN-last semantics."""
    svg = avg_lap_by_compound_svg(_compound_pdf())
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    axis = [
        (float(t.get("x")), t.text)
        for t in root.iter(f"{ns}text")
        if t.text in {"AAA", "BBB", "CCC"}
    ]
    order = [name for _, name in sorted(axis)]
    assert order == ["BBB", "AAA", "CCC"]


def test_avg_lap_by_compound_empty():
    empty = avg_lap_by_compound_svg(_compound_pdf().iloc[0:0])
    assert "no laps" in empty
    nulls = _compound_pdf()
    nulls["avg_lap_time"] = math.nan
    assert "no laps" in avg_lap_by_compound_svg(nulls)


def test_fastest_laps_null_compound_has_no_label():
    pdf = _chart_pdf(3)
    pdf.loc[1, "compound"] = None
    svg = fastest_laps_svg(pdf)
    assert "None" not in svg and "NAN" not in svg
    root = _parse(svg)
    ns = "{http://www.w3.org/2000/svg}"
    bars = [p for p in root.iter(f"{ns}path") if p.get("fill")]
    # null compound falls back to the unknown-compound neutral
    assert bars[1].get("fill") == "#52514e"


def test_drilldown_site_navigates_year_weekend_session(spark, tables, tmp_path):
    """K2 drill-down parity (reference dashboard.py:34-99): the static
    site contains every selection state as a page, and every link on
    every page resolves to an emitted file. Each session page's facade
    is released once its page is written, so the site leaves no laps
    cache behind without a release_caches call."""
    import re

    from formula1_dataengineering_spark.caching import release_caches
    from formula1_dataengineering_spark.sinks import emit_drilldown_site

    from .test_caching import _cache_empty

    spark.catalog.clearCache()
    release_caches()
    pages = emit_drilldown_site(spark, tables, str(tmp_path), driver_number=1)
    assert _cache_empty(spark)
    assert "index.html" in pages
    # index → the fixture's one year
    index = (tmp_path / "index.html").read_text()
    assert "year_2024.html" in index
    # year → weekend (S8 catalog)
    year = (tmp_path / "year_2024.html").read_text()
    assert "weekend_501.html" in year and "Test Grand Prix 2024" in year
    # weekend → both sessions (S9 catalog), breadcrumb back up
    wk = (tmp_path / "weekend_501.html").read_text()
    assert "index.html" in wk and "year_2024.html" in wk
    session_links = set(re.findall(r"session_\d+\.html", wk))
    assert len(session_links) == 2
    # every linked session page exists and is a full report
    for name in session_links:
        html = (tmp_path / name).read_text()
        assert "Fastest lap comparison" in html
    # every emitted link across the site resolves
    for name in pages:
        for href in re.findall(r"href='([^']+)'", (tmp_path / name).read_text()):
            assert (tmp_path / href).exists(), (name, href)


def test_corpus_report_html_renders_all_sections(spark):
    from formula1_dataengineering_spark.sinks.dashboard import (
        corpus_report_html,
    )

    html = corpus_report_html(spark, "/root/testdata/sf0.001")
    for heading in (
        "Source accounting",
        "Quality filter funnel",
        "Heavy-hitter terms",
        "distribution drift",
        "sketch profile",
    ):
        assert heading in html
    assert html.count("table view") == 5
