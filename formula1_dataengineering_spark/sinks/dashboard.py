"""Dashboard sink (K2): a static HTML session report.

The reference's Streamlit dashboard (reference: dashboard.py:1-117) is
an interactive picker around two figures; its engine-relevant surface
is *which* DataFrames feed *which* figures. This sink renders that
surface as a dependency-free static HTML page: selection happens in
Spark (the facade queries), each figure embeds its SVG inline, and
every figure ships a collapsible table view of the exact chart data
(the accessibility fallback the skill mandates — identity and values
never live in color alone).

At 100 TB the dashboard is still driver-side-tiny: every input is an
already-aggregated chart-data DataFrame (≤ a few hundred rows); the
sink never touches a distributed collection itself.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from .svg import esc

_PAGE_CSS = """
  :root { color-scheme: light dark; }
  body { margin: 0; padding: 24px; background: #fcfcfb; color: #0b0b0b;
         font-family: system-ui, sans-serif; }
  @media (prefers-color-scheme: dark) {
    body { background: #1a1a19; color: #ffffff; }
    table, th, td { border-color: #383835 !important; }
  }
  h1 { font-size: 20px; margin: 0 0 4px; }
  .sub { color: #8a8984; font-size: 13px; margin-bottom: 20px; }
  section { margin-bottom: 32px; }
  h2 { font-size: 15px; margin: 0 0 8px; }
  details { margin-top: 8px; font-size: 12px; }
  summary { cursor: pointer; color: #8a8984; }
  table { border-collapse: collapse; margin-top: 8px; }
  th, td { border: 1px solid #e8e7e3; padding: 3px 8px;
           text-align: right; font-variant-numeric: tabular-nums; }
  th { text-align: center; }
"""


def _table_html(pdf: pd.DataFrame, max_rows: int = 200) -> str:
    head = "".join(f"<th>{esc(c)}</th>" for c in pdf.columns)
    body = "".join(
        "<tr>" + "".join(f"<td>{esc('' if v is None else v)}</td>" for v in row) + "</tr>"
        for row in pdf.head(max_rows).itertuples(index=False, name=None)
    )
    more = (
        f"<p>… {len(pdf) - max_rows} more rows</p>" if len(pdf) > max_rows else ""
    )
    return (
        f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>{more}"
    )


def dashboard_html(
    title: str,
    sections: Sequence[tuple[str, str, pd.DataFrame | None]],
    subtitle: str = "",
) -> str:
    """Assemble ``(heading, svg, chart_data)`` sections into one page.

    ``svg`` may be empty for a table-only section; ``chart_data`` may be
    None for an SVG-only one. Dark mode comes from the page *and* each
    embedded SVG carrying the same prefers-color-scheme tokens.
    """
    out = [
        "<!doctype html><html><head><meta charset='utf-8'>",
        f"<title>{esc(title)}</title><style>{_PAGE_CSS}</style></head><body>",
        f"<h1>{esc(title)}</h1>",
        f"<div class='sub'>{esc(subtitle)}</div>" if subtitle else "",
    ]
    for heading, svg, pdf in sections:
        out.append(f"<section><h2>{esc(heading)}</h2>{svg}")
        if pdf is not None and len(pdf.columns):
            out.append(
                f"<details><summary>table view ({len(pdf)} rows)</summary>"
                f"{_table_html(pdf)}</details>"
            )
        out.append("</section>")
    out.append("</body></html>")
    return "".join(out)


def _nav_page(title: str, crumbs: str, items: list[tuple[str, str]]) -> str:
    """A selection page: breadcrumb line + one link per choice (the
    static counterpart of the reference's pickers, dashboard.py:34-99)."""
    links = "".join(
        f"<li><a href='{esc(href)}'>{esc(label)}</a></li>"
        for label, href in items
    ) or "<li>nothing found</li>"
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{esc(title)}</title><style>{_PAGE_CSS}</style></head><body>"
        f"<h1>{esc(title)}</h1><div class='sub'>{crumbs}</div>"
        f"<ul>{links}</ul></body></html>"
    )


def emit_drilldown_site(
    spark,
    tables: dict,
    out_dir: str,
    driver_number: int | None = None,
) -> dict[str, str]:
    """Static drill-down parity for the reference's interactive
    dashboard (dashboard.py:34-99's year → weekend → session state
    machine): emit ``index.html`` (years) → ``year_<y>.html``
    (weekends via the S8 catalog) → ``weekend_<mk>.html`` (sessions
    via S9) → ``session_<sk>.html`` (the full session report). Every
    selection the Streamlit app makes interactively exists as a page;
    navigation is plain links. Returns {page name: path}.

    Catalog collections are driver-side-tiny (#meetings rows); report
    inputs are already-aggregated chart data — the sink itself never
    touches a distributed collection.
    """
    import os

    from ..f1.session_facade import F1Session, f1_weekends, sessions_in_weekend

    os.makedirs(out_dir, exist_ok=True)
    pages: dict[str, str] = {}

    def emit(name: str, html: str) -> None:
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8") as f:
            f.write(html)
        pages[name] = path

    years = sorted(
        r["year"]
        for r in tables["meetings"].select("year").distinct().collect()
        if r["year"] is not None
    )
    emit(
        "index.html",
        _nav_page(
            "Formula 1 data dashboard",
            "select a calendar year",
            [(str(y), f"year_{y}.html") for y in years],
        ),
    )
    for y in years:
        # Sort on the KEY with a name fallback: a NULL official name
        # (nullable API field) must not TypeError the whole site emit
        # (code-review finding).
        weekends = sorted(
            (
                (r["meeting_official_name"] or f"Meeting {r['meeting_key']}"),
                r["meeting_key"],
            )
            for r in f1_weekends(tables["meetings"], y).collect()
        )
        emit(
            f"year_{y}.html",
            _nav_page(
                f"{y} Formula 1 weekends",
                f"<a href='index.html'>years</a> › {y}",
                [(name, f"weekend_{mk}.html") for name, mk in weekends],
            ),
        )
        for wk_name, mk in weekends:
            sess = sorted(
                (
                    (r["session_name"] or f"Session {r['session_key']}"),
                    r["session_key"],
                )
                for r in sessions_in_weekend(tables["sessions"], mk).collect()
            )
            emit(
                f"weekend_{mk}.html",
                _nav_page(
                    wk_name,
                    f"<a href='index.html'>years</a> › "
                    f"<a href='year_{y}.html'>{y}</a> › {esc(wk_name)}",
                    [(name, f"session_{sk}.html") for name, sk in sess],
                ),
            )
            for _, sk in sess:
                facade = F1Session(spark, sk, tables)
                try:
                    emit(
                        f"session_{sk}.html",
                        session_report_html(facade, driver_number=driver_number),
                    )
                finally:
                    facade.release()
    return pages


def session_report_html(facade, driver_number: int | None = None) -> str:
    """One-call K2 parity surface: fastest-laps figure (+ optional lap
    telemetry for one driver's fastest lap) for a SessionFacade, as the
    reference dashboard composes them (dashboard.py:88-117)."""
    from .charts import avg_lap_by_compound_svg, fastest_laps_svg, telemetry_svg

    info = facade.session_info()
    chart = facade.fastest_laps_chart_data().toPandas()
    sections = [
        (
            "Fastest lap comparison",
            fastest_laps_svg(
                chart,
                title=f"{info['circuit']} — {info['name']} fastest laps",
            ),
            chart.drop(columns=["lap_number", "lap_start", "lap_end"]),
        )
    ]
    # Third reference figure (classes.py LapTimePlotByTireAndSession):
    # driver × compound grouped bars, omitted when no compound data.
    comp = facade.avg_lap_by_compound_chart_data().toPandas()
    if len(comp):
        sections.append(
            (
                "Average lap times by compound",
                avg_lap_by_compound_svg(
                    comp,
                    title=f"{info['circuit']} — average lap times by "
                    "driver and tire compound",
                ),
                comp,
            )
        )
    best = chart[chart["driver_number"] == driver_number]
    if driver_number is not None and len(best):
        # toPandas gave the lap's window as naive session-timezone wall time.
        row, tz = best.iloc[0], facade.spark.conf.get("spark.sql.session.timeZone")
        window = [
            pd.Timestamp(row[c], tz=tz).to_pydatetime() for c in ("lap_start", "lap_end")
        ]
        lap_no = int(row["lap_number"])
        tel = facade.lap_telemetry(driver_number, lap_no, window=window).toPandas()
        sections.append(
            (
                f"Lap telemetry — driver {driver_number}, lap {lap_no}",
                telemetry_svg(tel),
                None,
            )
        )
    return dashboard_html(
        f"Session {facade.session_key}",
        sections,
        subtitle=f"{info['session_type']} · {info['circuit']}",
    )


def corpus_report_html(spark, sf_dir: str, max_rows: int = 50) -> str:
    """Corpus datasheet (the LLM-pipeline counterpart of the session
    report): one static page summarizing the training corpus — source
    accounting, the quality-filter survivorship funnel, per-source
    vocabulary heavy hitters, distribution drift, and the sketch
    profile of the event stream. Every section is an existing
    hash-verified catalog query collected at its (already tiny)
    aggregate edge; the sink only lays out tables.
    """
    from ..plans.queries import QUERIES

    sections = []
    for heading, name in (
        ("Source accounting", "token_stats_by_source"),
        ("Quality filter funnel", "filter_cascade_stats"),
        ("Heavy-hitter terms by source", "heavy_hitter_terms_by_source"),
        ("Source distribution drift (TVD)", "source_term_drift"),
        ("Event stream sketch profile", "sketch_profile_by_type"),
    ):
        pdf = QUERIES[name](spark, sf_dir).toPandas()
        if len(pdf) > max_rows:
            pdf = pdf.head(max_rows)
        sections.append((heading, "", pdf))
    return dashboard_html(
        "Corpus datasheet",
        sections,
        subtitle=f"catalog tables at {sf_dir}",
    )
