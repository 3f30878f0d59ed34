"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical frames, so a run is reproducible and its inputs can be
fingerprinted. Nothing here starts Spark. A benchmark run builds its
inputs in a child process (``python3 -m perfbench.gen KIND SEED DIR``)
before its own Spark session starts, so a run whose inputs are cached
and one that had to build them measure the same process state.

Shapes follow the catalog contract the engine's queries read
(``sources/catalog.TABLES``): a TPC-H-like star schema at scale factor
0.1 (600k line items), an ``events`` clickstream, a ``documents`` text
corpus and ``embeddings`` vectors, each one parquet file per table.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when a generator changes: cached data dirs carry it in their name.
VERSION = 2

SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "spark line small fast group customer query row stream the batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "old", "red", "large", "hot", "cold", "small", "new")
PART_NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
EMB_DIM = 64
EMB_LABELS = 10


def fingerprint(frames: dict[str, pd.DataFrame]) -> str:
    """Content hash over every frame (name, columns, row hashes)."""
    h = hashlib.sha256()
    for name in sorted(frames):
        df = frames[name]
        arrays = [c for c in df.columns if len(df) and isinstance(df[c].iloc[0], np.ndarray)]
        df = df.assign(**{c: [v.tobytes() for v in df[c]] for c in arrays})
        h.update(name.encode())
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def _us(start: datetime, offsets_us: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets_us.astype("timedelta64[us]")


def _days(rng, n: int, first: datetime, last: datetime) -> np.ndarray:
    span = (last - first).days + 1
    return np.datetime64(first, "us") + (
        rng.integers(0, span, n) * 86_400_000_000
    ).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n: int, first_id: int = 0) -> pd.DataFrame:
    vocab = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": text,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
        }
    )


def near_duplicate(rng, text: str) -> str:
    """One word swapped and one appended: Jaccard stays high enough
    for the MinHash bands to collide most of the time."""
    w = text.split()
    w[int(rng.integers(0, len(w)))] = "dup"
    return " ".join(w + ["dup"])


def catalog_frames(seed: int, sizes: dict[str, int] = SF01) -> dict[str, pd.DataFrame]:
    """The ten catalog tables as pandas frames, seeded."""
    rng = np.random.default_rng(seed)
    n = sizes
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    c = n["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, o, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), li),
            "l_linestatus": rng.choice(("O", "F"), li),
            "l_shipdate": _days(rng, li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )
    e = n["events"]
    # Distinct microsecond offsets: (user_id, ts) stays unique, which
    # the as-of and SCD2 oracles need for a deterministic order.
    month_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(month_us, e, replace=False))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _us(datetime(2024, 1, 1), offs),
            "user_id": rng.integers(0, 1500, e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = _docs(rng, n["documents"])
    # A few exact and near duplicates, as a crawled corpus has.
    nd = max(1, n["documents"] // 250)
    src = rng.choice(len(d), 2 * nd, replace=False)
    texts = d["text"].to_numpy().copy()
    for a, b in zip(src[:nd], src[nd:]):
        texts[b] = texts[a]
    for a in rng.choice(len(d), nd, replace=False):
        texts[a] = near_duplicate(rng, texts[a])
    d["text"] = texts
    d["n_chars"] = d["text"].str.len().astype(np.int64)
    out["documents"] = d
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def embeddings(rng, n: int, first_id: int = 0, centroids=None) -> pd.DataFrame:
    """Unit vectors clustered around one centroid per label."""
    if centroids is None:
        centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    v = centroids[labels] + 1.5 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": list(v),
            "label": labels.astype(np.int32),
        }
    )


_ARROW_TYPES = {
    ("events", "ts"): pa.timestamp("us"),
    ("orders", "o_orderdate"): pa.timestamp("us"),
    ("lineitem", "l_shipdate"): pa.timestamp("us"),
    ("embeddings", "embedding"): pa.list_(pa.float32()),
}


def write_parquet(df: pd.DataFrame, path: str, table: str = "") -> None:
    arrays = [
        pa.array(list(df[c]) if (table, c) == ("embeddings", "embedding") else df[c],
                 type=_ARROW_TYPES.get((table, c)))
        for c in df.columns
    ]
    pq.write_table(pa.Table.from_arrays(arrays, names=list(df.columns)), path)


def cached_dir(root: str, kind: str, seed: int, build=None) -> tuple[str, str]:
    """``root/<kind>-v<VERSION>-s<seed>`` built once by ``build(dir)``,
    which returns the input fingerprint; by default the build runs in a
    child process (see the module docstring). ``_FINGERPRINT`` is
    written last, so a half-built dir is rebuilt. Returns
    ``(dir, fingerprint)``."""
    path = os.path.join(root, f"{kind}-v{VERSION}-s{seed}")
    marker = os.path.join(path, "_FINGERPRINT")
    if os.path.exists(marker):
        with open(marker) as f:
            return path, f.read().strip()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    fp = (build or (lambda p: _build_in_child(kind, seed, p)))(path)
    with open(marker, "w") as f:
        f.write(fp)
    return path, fp


def _build_in_child(kind: str, seed: int, path: str) -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.gen", kind, str(seed), path],
        cwd=root, check=True, stdout=subprocess.PIPE, text=True,
    )
    return out.stdout.split()[-1]


def write_catalog(path: str, seed: int, sizes: dict[str, int] = SF01) -> str:
    frames = catalog_frames(seed, sizes)
    for name, df in frames.items():
        write_parquet(df, os.path.join(path, f"{name}.parquet"), name)
    return fingerprint(frames)


# -- F1 season -------------------------------------------------------------

COMPOUNDS = ("SOFT", "MEDIUM", "HARD")
CIRCUITS = (
    "Sakhir", "Jeddah", "Melbourne", "Suzuka", "Shanghai", "Miami",
    "Imola", "Monaco", "Montreal", "Barcelona", "Spielberg", "Silverstone",
)


def f1_season_frames(
    seed: int,
    meetings: int = 2,
    drivers: int = 20,
    race_laps: int = 57,
    quali_laps: int = 30,
    hz: float = 4.0,
) -> dict[str, pd.DataFrame]:
    """One synthetic season: per meeting a Qualifying and a Race
    session, ``drivers`` cars, laps with jittered sector times (some
    pit-out laps with null sectors), stints, and ``hz`` car telemetry.

    The defaults follow ``FIXTURES.md``, which derives them from the
    reference: 20 drivers and 30-80 laps per session (57 race laps, 30
    in qualifying), and 4 Hz ``car_data`` over every lap, which gives a
    race about 20k samples per driver."""
    rng = np.random.default_rng(seed)
    year = 2024
    mt, ss, dr, lp, st, cd, pt = [], [], [], [], [], [], []
    colours = [f"{int(x):06X}" for x in rng.integers(0, 0xFFFFFF, drivers)]
    for m in range(meetings):
        mk = 1200 + m
        circuit = CIRCUITS[m % len(CIRCUITS)]
        mt.append((mk, f"FORMULA 1 {circuit.upper()} GRAND PRIX {year}", year))
        day0 = datetime(year, 3, 1) + timedelta(days=14 * m)
        for kind, n_laps, off in (("Qualifying", quali_laps, 1), ("Race", race_laps, 2)):
            sk = 9000 + 2 * m + (kind == "Race")
            start = day0 + timedelta(days=off, hours=14)
            base = 80.0 + rng.uniform(0.0, 15.0)
            ss.append((sk, mk, kind, kind, circuit, start, start + timedelta(hours=1 if kind == "Qualifying" else 2)))
            for d in range(1, drivers + 1):
                dr.append((sk, d, f"D{d:02d}", colours[d - 1], colours[d - 1]))
                pace = base + rng.normal(0.0, 0.8)
                t = start + timedelta(seconds=float(rng.uniform(0, 60)))
                # Two stints in a race, one in qualifying.
                pit_lap = int(rng.integers(n_laps // 3, 2 * n_laps // 3)) if kind == "Race" else n_laps + 1
                comps = rng.choice(COMPOUNDS, 2, replace=False)
                st.append((sk, d, 1, 1, min(pit_lap - 1, n_laps), str(comps[0]), int(rng.integers(0, 4))))
                if pit_lap <= n_laps:
                    st.append((sk, d, 2, pit_lap, n_laps, str(comps[1]), 0))
                    pt.append((sk, mk, d, pit_lap, round(float(rng.uniform(20, 26)), 3)))
                for lap in range(1, n_laps + 1):
                    secs = pace / 3 + rng.normal(0.0, 0.4, 3)
                    secs = np.round(np.abs(secs), 3)
                    out_lap = lap == 1 or lap == pit_lap
                    dur = round(float(secs.sum()), 3)
                    if out_lap:
                        dur = round(dur + 20.0, 3)
                        s = (None, None, None)
                    else:
                        s = tuple(float(x) for x in secs)
                    lp.append((sk, d, lap, t, dur, *s, out_lap))
                    n_s = int(dur * hz)
                    cd.append((sk, d, t, dur, n_s))
                    t = t + timedelta(seconds=dur)
    frames = {
        "meetings": pd.DataFrame(mt, columns=["meeting_key", "meeting_official_name", "year"]),
        "sessions": pd.DataFrame(ss, columns=["session_key", "meeting_key", "session_name", "session_type", "circuit_short_name", "date_start", "date_end"]),
        "drivers": pd.DataFrame(dr, columns=["session_key", "driver_number", "name_acronym", "team_colour", "driver_color"]),
        "laps": pd.DataFrame(lp, columns=["session_key", "driver_number", "lap_number", "date_start", "lap_duration", "duration_sector_1", "duration_sector_2", "duration_sector_3", "is_pit_out_lap"]),
        "stints": pd.DataFrame(st, columns=["session_key", "driver_number", "stint_number", "lap_start", "lap_end", "compound", "tyre_age_at_start"]),
        "pit": pd.DataFrame(pt, columns=["session_key", "meeting_key", "driver_number", "lap_number", "pit_duration"]),
    }
    # Telemetry: ``hz`` samples per second across every lap.
    sk_a, d_a, t0_a, n_a = (np.array(x) for x in zip(*[(a, b, np.datetime64(c, "us"), e) for a, b, c, _, e in cd]))
    rep = np.repeat(np.arange(len(n_a)), n_a)
    step = np.arange(len(rep)) - np.repeat(np.cumsum(n_a) - n_a, n_a)
    m = len(rep)
    frames["car_data"] = pd.DataFrame(
        {
            "session_key": sk_a[rep].astype(np.int32),
            "driver_number": d_a[rep].astype(np.int32),
            "date": t0_a[rep] + (step * (1e6 / hz)).astype("timedelta64[us]"),
            "speed": np.round(rng.uniform(80, 330, m), 1),
            "throttle": np.round(rng.uniform(0, 100, m), 1),
            "brake": rng.integers(0, 2, m).astype(np.float64) * 100.0,
            "n_gear": rng.integers(1, 9, m).astype(np.int32),
            "rpm": rng.integers(6000, 12500, m).astype(np.int32),
        }
    )
    return frames


_ARROW_OF_SPARK = {
    "IntegerType": pa.int32(),
    "StringType": pa.string(),
    "DoubleType": pa.float64(),
    "BooleanType": pa.bool_(),
    # UTC-adjusted, so Spark reads TimestampType (not TIMESTAMP_NTZ).
    "TimestampType": pa.timestamp("us", tz="UTC"),
}


def write_f1_season(path: str, seed: int, **kw) -> str:
    """Write the season in the layout ``sources.openf1.write_partitioned``
    gives (what ``ingest_session`` produces): one ``<table>.parquet``
    directory per table, facts hive-partitioned by ``session_key``,
    dimensions flat. pyarrow writes it, so no JVM starts here. Returns
    the fingerprint."""
    from formula1_dataengineering_spark.f1.schemas import F1_SCHEMAS

    frames = f1_season_frames(seed, **kw)
    for name, pdf in frames.items():
        fields = F1_SCHEMAS[name].fields
        schema = pa.schema([(f.name, _ARROW_OF_SPARK[type(f.dataType).__name__]) for f in fields])
        table = pa.Table.from_pandas(pdf[[f.name for f in fields]], schema=schema, preserve_index=False)
        out = os.path.join(path, f"{name}.parquet")
        if name in PARTITIONED:
            pq.write_to_dataset(table, out, partition_cols=["session_key"], basename_template="part-{i}.parquet")
        else:
            os.makedirs(out)
            pq.write_table(table, os.path.join(out, "part-0.parquet"))
    return fingerprint(frames)


#: The tables ``write_partitioned`` partitions by ``session_key``.
PARTITIONED = ("laps", "car_data", "stints", "pit")


# -- ingest batches ------------------------------------------------------------

BASE_DOCS = 2500
BASE_EVENTS = 50_000
BATCH_NEW_DOCS = 40
BATCH_DUPS = 5  # exact copies of live base docs: must be rejected
BATCH_NEAR = 5  # near copies: most collide in the LSH bands
BATCH_VECS = 20
BATCH_EVENTS = 2000
DAYS = 24


def write_ingest_inputs(path: str, seed: int) -> str:
    """A base split of documents, embeddings and events, ``DAYS`` daily
    batches (new documents plus exact and near copies of base ones, new
    vectors, the next day's events) and ``dups.parquet`` naming each
    exact copy's source. Returns the fingerprint."""
    frames = catalog_frames(
        seed, {**SF01, "orders": 1, "lineitem": 1, "customer": 1, "part": 1, "supplier": 1}
    )
    out = {}
    base = {
        "documents": frames["documents"].head(BASE_DOCS),
        "embeddings": frames["embeddings"],
        "events": frames["events"].head(BASE_EVENTS),
    }
    os.makedirs(os.path.join(path, "base"))
    for t, df in base.items():
        write_parquet(df, os.path.join(path, "base", f"{t}.parquet"), t)
        out[f"base/{t}"] = df
    rng = np.random.default_rng([seed, 3])
    centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    next_doc = 10_000_000
    next_vec = 10_000_000
    t_end = base["events"]["ts"].max()
    dups = []
    for i in range(DAYS):
        docs = _docs(rng, BATCH_NEW_DOCS, next_doc)
        src = base["documents"].iloc[rng.choice(BASE_DOCS - 500, BATCH_DUPS + BATCH_NEAR, replace=False)]
        ids = np.arange(next_doc + BATCH_NEW_DOCS, next_doc + BATCH_NEW_DOCS + len(src))
        copies = src.assign(doc_id=ids)
        copies["text"] = [
            t if j < BATCH_DUPS else near_duplicate(rng, t)
            for j, t in enumerate(copies["text"])
        ]
        dups += [(int(d), int(s)) for d, s in zip(ids[:BATCH_DUPS], src["doc_id"][:BATCH_DUPS])]
        docs = pd.concat([docs, copies[docs.columns]], ignore_index=True)
        docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
        docs["n_chars"] = docs["text"].str.len().astype(np.int64)
        next_doc += 1000
        vecs = embeddings(rng, BATCH_VECS, next_vec, centroids)
        next_vec += BATCH_VECS
        offs = np.sort(rng.choice(86_400 * 10**6, BATCH_EVENTS, replace=False))
        day0 = (t_end + pd.Timedelta(days=i + 1)).normalize()
        events = pd.DataFrame(
            {
                "event_id": np.arange(BATCH_EVENTS, dtype=np.int64) + 10**8 + i * BATCH_EVENTS,
                "ts": (day0 + pd.to_timedelta(offs, unit="us")).to_numpy().astype("datetime64[us]"),
                "user_id": rng.integers(0, 1500, BATCH_EVENTS).astype(np.int64),
                "event_type": rng.choice(EVENT_TYPES, BATCH_EVENTS),
                "value": np.round(rng.exponential(50.0, BATCH_EVENTS), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, BATCH_EVENTS)],
            }
        )
        d = os.path.join(path, f"day{i}")
        os.makedirs(d)
        for t, df in (("documents", docs), ("embeddings", vecs), ("events", events)):
            write_parquet(df, os.path.join(d, f"{t}.parquet"), t)
            out[f"day{i}/{t}"] = df
    dup_df = pd.DataFrame(dups, columns=["doc_id", "source_id"])
    dup_df.to_parquet(os.path.join(path, "dups.parquet"))
    out["dups"] = dup_df
    return fingerprint(out)


BUILDERS = {"catalog": write_catalog, "f1": write_f1_season, "ingest": write_ingest_inputs}


def main(argv=None) -> int:
    """``python3 -m perfbench.gen KIND SEED DIR``: build one input set
    into the (empty) ``DIR`` and print its fingerprint."""
    kind, seed, path = argv if argv is not None else sys.argv[1:]
    print(BUILDERS[kind](path, int(seed)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
