"""SCD2 history build (operators/scd.py) — dedicated contract tests
(VERDICT r10 item 1): a brute-force per-key Python fold is the
reference for the full operator under dense (key, ts) ties, no-op
runs, single-change keys, and NULL handling; plus the incremental
refresh's equality to a full rebuild (scd2_refresh, VERDICT r10
item 6)."""

from __future__ import annotations

from datetime import datetime, timezone

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import delta_owners

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_TS = [
    datetime(2024, 1, d, h, 0, 0, tzinfo=timezone.utc)
    for d in (1, 2, 3)
    for h in (0, 12)
]

_SCHEMA = "k long, ts timestamp, v string"


def _brute_scd2(rows):
    """Reference fold: per key — max value per ts (tie-dedup), sort by
    ts, drop consecutive repeats (compression), emit
    [effective_from, effective_to) with the open row current."""
    by_key: dict = {}
    for k, ts, v in rows:
        if k is None or ts is None or v is None:
            continue
        by_key.setdefault(k, {}).setdefault(ts, []).append(v)
    out = []
    for k, tsmap in by_key.items():
        states = [(ts, max(vs)) for ts, vs in sorted(tsmap.items())]
        compressed = []
        for ts, v in states:
            if not compressed or compressed[-1][1] != v:
                compressed.append((ts, v))
        for i, (ts, v) in enumerate(compressed):
            nxt = compressed[i + 1][0] if i + 1 < len(compressed) else None
            out.append(
                (
                    k,
                    v,
                    int(ts.timestamp() * 1_000_000),
                    int(nxt.timestamp() * 1_000_000) if nxt else None,
                    nxt is None,
                )
            )
    return sorted(out, key=lambda r: (r[0], r[2]))


def _run(spark, rows):
    from formula1_dataengineering_spark.operators.scd import scd2_history

    df = spark.createDataFrame(rows, _SCHEMA)
    got = sorted(
        (
            (
                r["k"],
                r["v"],
                r["effective_from_us"],
                r["effective_to_us"],
                r["is_current"],
            )
            for r in scd2_history(df, "k", "ts", "v").collect()
        ),
        key=lambda r: (r[0], r[2]),
    )
    return got


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.sampled_from(_TS),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_scd2_matches_brute_force_fold(spark, rows):
    """Dense (key, ts) tie collisions and no-op repeats — the window
    pipeline must equal the per-key reference fold exactly."""
    assert _run(spark, rows) == _brute_scd2(rows)


def test_scd2_dense_same_ts_ties_keep_max_value(spark):
    """Multiple changes at one (key, ts): the max value wins — a
    deterministic total order, never 'last writer'."""
    t = _TS[0]
    rows = [(1, t, "a"), (1, t, "c"), (1, t, "b")]
    assert _run(spark, rows) == [
        (1, "c", int(t.timestamp() * 1_000_000), None, True)
    ]


def test_scd2_noop_changes_compress_out(spark):
    """A change to the same value is not a state change: a→a→b→b→a
    becomes three intervals, not five."""
    rows = [(1, _TS[i], v) for i, v in enumerate(["a", "a", "b", "b", "a"])]
    got = _run(spark, rows)
    assert [r[1] for r in got] == ["a", "b", "a"]
    # Intervals tile: each effective_to equals the next effective_from.
    assert [r[3] for r in got[:-1]] == [r[2] for r in got[1:]]
    assert got[-1][3] is None and got[-1][4] is True


def test_scd2_single_change_key_is_one_open_interval(spark):
    rows = [(7, _TS[2], "x")]
    assert _run(spark, rows) == [
        (7, "x", int(_TS[2].timestamp() * 1_000_000), None, True)
    ]


def test_scd2_null_key_ts_value_rows_excluded(spark):
    """NULL key/ts/value rows are filtered up front (a NULL state is
    not representable as an interval)."""
    rows = [
        (None, _TS[0], "a"),
        (1, None, "a"),
        (1, _TS[1], None),
        (1, _TS[2], "b"),
    ]
    assert _run(spark, rows) == [
        (1, "b", int(_TS[2].timestamp() * 1_000_000), None, True)
    ]


@given(
    initial=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from(_TS[:4]),
            st.sampled_from(["a", "b"]),
        ),
        max_size=20,
    ),
    new=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from(_TS),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=10,
    ),
)
@_SETTINGS
def test_scd2_refresh_equals_full_rebuild(spark, initial, new):
    """scd2_refresh(history, feed, new) == scd2_history(feed ∪ new):
    the incremental path rebuilds only touched keys but must be
    value-identical — including when new changes collide at a ts the
    compressed history no longer records (the case that forces the
    refresh to re-read the FEED for touched keys, not the history)."""
    from formula1_dataengineering_spark.operators.scd import (
        scd2_history,
        scd2_refresh,
    )

    feed = spark.createDataFrame(initial, _SCHEMA) if initial else (
        spark.createDataFrame([], _SCHEMA)
    )
    new_df = spark.createDataFrame(new, _SCHEMA)
    history = scd2_history(feed, "k", "ts", "v")
    got = sorted(
        map(
            tuple,
            scd2_refresh(history, feed, new_df, "k", "ts", "v").collect(),
        )
    )
    want = sorted(
        map(tuple, scd2_history(feed.unionByName(new_df), "k", "ts", "v").collect())
    )
    assert got == want


def test_scd2_refresh_untouched_keys_pass_through_unrebuilt(spark):
    """Keys absent from the new-change batch keep their history rows
    verbatim (the union side), and the plan only re-windows the
    touched keys' feed slice — the O(changed) contract."""
    from formula1_dataengineering_spark.operators.scd import (
        scd2_history,
        scd2_refresh,
    )

    feed_rows = [(k, _TS[i], v) for k in (1, 2, 3) for i, v in [(0, "a"), (2, "b")]]
    new_rows = [(2, _TS[4], "c")]
    feed = spark.createDataFrame(feed_rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    history = scd2_history(feed, "k", "ts", "v")
    out = scd2_refresh(history, feed, new_df, "k", "ts", "v")
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(tuple, scd2_history(feed.unionByName(new_df), "k", "ts", "v").collect())
    )
    assert got == want
    # Keys 1 and 3 have two intervals each; key 2 gained a third.
    by_key = {}
    for r in got:
        by_key.setdefault(r[0], []).append(r)
    assert len(by_key[1]) == 2 and len(by_key[3]) == 2 and len(by_key[2]) == 3


# ---------------------------------------------------------------------------
# Keyed feed layout (write_scd2_feed / read_scd2_feed, VERDICT r11
# item 6): the pruned refresh must be value-identical to the plain
# refresh AND the full rebuild, its plan must carry DPP on the feed
# scan, and the layout contract must fail loudly on drift/corruption.
# ---------------------------------------------------------------------------


def _layout_roundtrip(spark, tmp_path, rows, new_rows, n_shards=4):
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        scd2_history,
        scd2_refresh,
        write_scd2_feed,
    )

    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    path = str(tmp_path / "scd2_feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=n_shards)
    feed_sharded, meta = read_scd2_feed(spark, path)
    history = scd2_history(feed, "k", "ts", "v")
    return (
        scd2_refresh(
            history, feed_sharded, new_df, "k", "ts", "v", feed_meta=meta
        ),
        scd2_history(feed.unionByName(new_df), "k", "ts", "v"),
    )


def test_scd2_pruned_refresh_equals_full_rebuild(spark, tmp_path):
    rows = [(k, _TS[i], v) for k in range(8) for i, v in [(0, "a"), (2, "b"), (3, "b")]]
    new_rows = [(2, _TS[4], "c"), (5, _TS[0], "c"), (99, _TS[1], "a")]
    got_df, want_df = _layout_roundtrip(spark, tmp_path, rows, new_rows)
    assert sorted(map(tuple, got_df.collect())) == sorted(
        map(tuple, want_df.collect())
    )


def test_scd2_pruned_refresh_plan_has_static_shard_pruning(spark, tmp_path):
    """The refresh against the partitioned feed layout must carry the
    collected touched-shard set as a STATIC PartitionFilter on the
    feed FileScan — the pruned-READ contract. Static, not DPP: Spark
    only injects a dynamicpruning subquery when the batch side has a
    likely-selective predicate, so a DPP-only plan silently rescans
    the whole feed for batches without one (e.g. a raw in-memory
    frame, exactly this test's shape)."""
    rows = [(k, _TS[i], v) for k in range(16) for i, v in [(0, "a"), (2, "b")]]
    new_rows = [(2, _TS[4], "c")]
    got_df, _ = _layout_roundtrip(spark, tmp_path, rows, new_rows, n_shards=8)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    import re

    # The feed_rows scan is the only PARTITIONED FileScan in this plan
    # (plan text truncates Location strings, so match on the filter,
    # not the path).
    pruned = [
        line
        for line in plan.splitlines()
        if "FileScan" in line
        and re.search(r"PartitionFilters: \[[^\]]*shard[^\]]*(IN|INSET|=)", line)
    ]
    assert len(pruned) == 1, (
        "expected a static touched-shard PartitionFilter on the "
        f"feed_rows scan; FileScan lines: "
        + "\n".join(l[:300] for l in plan.splitlines() if "FileScan" in l)
    )


def test_scd2_feed_layout_key_mismatch_raises(spark, tmp_path):
    """Refreshing with a key column the layout was not sharded by
    would compute wrong shards and silently miss feed rows — the
    contract raises instead."""
    import pytest

    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        scd2_history,
        scd2_refresh,
        write_scd2_feed,
    )

    rows = [(1, _TS[0], "a")]
    feed = spark.createDataFrame(rows, _SCHEMA)
    path = str(tmp_path / "scd2_feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=4)
    feed_sharded, meta = read_scd2_feed(spark, path)
    renamed = feed_sharded.withColumnRenamed("k", "k2")
    history = scd2_history(feed, "k", "ts", "v").withColumnRenamed("k", "k2")
    new_df = spark.createDataFrame(rows, _SCHEMA).withColumnRenamed("k", "k2")
    with pytest.raises(ValueError, match="param mismatch"):
        scd2_refresh(
            history, renamed, new_df, "k2", "ts", "v", feed_meta=meta
        )


def test_scd2_feed_layout_missing_table_dir_is_corruption(spark, tmp_path):
    """A marker-bearing layout whose feed_rows/ directory vanished is
    corruption (raises), not an empty feed — the missing-vs-empty
    contract shared with the index readers."""
    import shutil

    import pytest

    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        write_scd2_feed,
    )

    feed = spark.createDataFrame([(1, _TS[0], "a")], _SCHEMA)
    path = str(tmp_path / "scd2_feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    shutil.rmtree(str(tmp_path / "scd2_feed" / "feed_rows"))
    with pytest.raises(ValueError, match="corrupt"):
        read_scd2_feed(spark, path)


def test_scd2_feed_layout_refuses_markerless(spark, tmp_path):
    import os
    import pytest

    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        write_scd2_feed,
    )

    feed = spark.createDataFrame([(1, _TS[0], "a")], _SCHEMA)
    path = str(tmp_path / "scd2_feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    os.remove(str(tmp_path / "scd2_feed" / "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        read_scd2_feed(spark, path)


def test_scd2_feed_layout_file_scheme_roundtrip(spark, tmp_path):
    """The lifecycle runs through the Hadoop FS API: an explicit
    file:/-scheme URI round-trips end to end (the cluster-portability
    contract — the same code path serves hdfs:/ or s3a:/)."""
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        scd2_history,
        scd2_refresh,
        write_scd2_feed,
    )

    rows = [(k, _TS[i], v) for k in range(4) for i, v in [(0, "a"), (2, "b")]]
    new_rows = [(1, _TS[4], "c")]
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    path = "file://" + str(tmp_path / "scd2_feed_uri")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    feed_sharded, meta = read_scd2_feed(spark, path)
    history = scd2_history(feed, "k", "ts", "v")
    got = scd2_refresh(
        history, feed_sharded, new_df, "k", "ts", "v", feed_meta=meta
    )
    want = scd2_history(feed.unionByName(new_df), "k", "ts", "v")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_scd2_feed_layout_empty_feed_bootstrap(spark, tmp_path):
    """An EMPTY feed layout (bootstrap: dimension starts empty, day
    batches arrive later) round-trips via the recorded schema and the
    refresh degenerates to scd2_history(new batch)."""
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        scd2_history,
        scd2_refresh,
        write_scd2_feed,
    )

    feed = spark.createDataFrame([], _SCHEMA)
    new_rows = [(1, _TS[0], "a"), (1, _TS[2], "b")]
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    path = str(tmp_path / "scd2_feed_empty")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    feed_sharded, meta = read_scd2_feed(spark, path)
    history = scd2_history(feed, "k", "ts", "v")
    got = scd2_refresh(
        history, feed_sharded, new_df, "k", "ts", "v", feed_meta=meta
    )
    want = scd2_history(new_df, "k", "ts", "v")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---------------------------------------------------------------------------
# Copy-on-write in-place refresh (scd2_refresh_in_place, round 12):
# only touched shards are read and rewritten; the stored layout must
# equal a full rebuild after every refresh; re-runs are idempotent.
# ---------------------------------------------------------------------------


def _hist_cols(df):
    return sorted(
        map(
            tuple,
            df.select(
                "k", "v", "effective_from_us", "effective_to_us", "is_current"
            ).collect(),
        )
    )


def test_scd2_cow_refresh_equals_full_rebuild_and_is_idempotent(
    spark, tmp_path
):
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_history,
    )

    rows = [(k, _TS[i], v) for k in range(12) for i, v in [(0, "a"), (2, "b")]]
    new_rows = [(3, _TS[4], "c"), (7, _TS[1], "b"), (99, _TS[0], "a")]
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    path = str(tmp_path / "hist")
    write_scd2_history(
        scd2_history(feed, "k", "ts", "v"), path, "k", n_shards=4
    )
    scd2_refresh_in_place(path, feed, new_df, "k", "ts", "v")
    want = _hist_cols(scd2_history(feed.unionByName(new_df), "k", "ts", "v"))
    got, _ = read_scd2_history(spark, path)
    assert _hist_cols(got) == want
    # Idempotent: recovery from a crash is re-running the refresh.
    scd2_refresh_in_place(path, feed, new_df, "k", "ts", "v")
    got2, _ = read_scd2_history(spark, path)
    assert _hist_cols(got2) == want


def test_scd2_cow_refresh_leaves_untouched_shard_files_alone(
    spark, tmp_path
):
    """The copy-on-write contract: a trickle batch rewrites ONLY the
    shards its keys live in — untouched shard directories keep their
    exact part files (same names, same bytes)."""
    import glob
    import os

    from formula1_dataengineering_spark.operators.scd import (
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_history,
    )

    rows = [
        (k, _TS[i], v) for k in range(64) for i, v in [(0, "a"), (2, "b")]
    ]
    new_rows = [(5, _TS[4], "c")]  # one key → ≤1 shard of 16 touched
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    path = str(tmp_path / "hist")
    write_scd2_history(
        scd2_history(feed, "k", "ts", "v"), path, "k", n_shards=16
    )

    def snapshot():
        out = {}
        for d in glob.glob(os.path.join(path, "history_rows", "shard=*")):
            for f in os.listdir(d):
                p = os.path.join(d, f)
                out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snapshot()
    scd2_refresh_in_place(path, feed, new_df, "k", "ts", "v")
    after = snapshot()
    changed_dirs = {
        os.path.dirname(p)
        for p in (set(before) ^ set(after))
        | {p for p in before if p in after and before[p] != after[p]}
    }
    assert len(changed_dirs) == 1, (
        f"expected exactly one rewritten shard, got {len(changed_dirs)}: "
        f"{sorted(changed_dirs)}"
    )


def test_scd2_cow_refresh_key_mismatch_and_markerless_refused(
    spark, tmp_path
):
    import os

    import pytest

    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_history,
    )

    feed = spark.createDataFrame([(1, _TS[0], "a")], _SCHEMA)
    path = str(tmp_path / "hist")
    write_scd2_history(
        scd2_history(feed, "k", "ts", "v"), path, "k", n_shards=2
    )
    with pytest.raises(ValueError, match="param mismatch"):
        scd2_refresh_in_place(path, feed, feed, "ts", "k", "v")
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        read_scd2_history(spark, path)
    with pytest.raises(ValueError, match="_SUCCESS"):
        scd2_refresh_in_place(path, feed, feed, "k", "ts", "v")


def test_scd2_cow_refresh_through_keyed_feed_layout(spark, tmp_path):
    """The full production wiring: BOTH sides stored — the feed read
    through its pruned layout (feed_meta) and the history maintained
    in place — still equals the from-scratch rebuild."""
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_feed,
        write_scd2_history,
    )

    rows = [(k, _TS[i], v) for k in range(12) for i, v in [(0, "a"), (2, "b")]]
    new_rows = [(3, _TS[4], "c")]
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    fpath = str(tmp_path / "feed")
    hpath = str(tmp_path / "hist")
    write_scd2_feed(feed, fpath, "k", "ts", "v", n_shards=4)
    feed_sharded, fmeta = read_scd2_feed(spark, fpath)
    write_scd2_history(
        scd2_history(feed, "k", "ts", "v"), hpath, "k", n_shards=4
    )
    scd2_refresh_in_place(
        hpath, feed_sharded, new_df, "k", "ts", "v", feed_meta=fmeta
    )
    want = _hist_cols(scd2_history(feed.unionByName(new_df), "k", "ts", "v"))
    got, _ = read_scd2_history(spark, hpath)
    assert _hist_cols(got) == want


# ---------------------------------------------------------------------------
# Daily feed deltas (refresh_scd2_feed) + the two-day cycle: day N's
# refresh must see day N−1's batch through the feed layout, or a key
# touched two days running silently loses day N−1.
# ---------------------------------------------------------------------------


def test_scd2_feed_delta_append_and_base_only_view(
    spark, tmp_path, crash_at_publish
):
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        write_scd2_feed,
    )

    feed = spark.createDataFrame([(1, _TS[0], "a"), (2, _TS[0], "a")], _SCHEMA)
    day1 = spark.createDataFrame([(1, _TS[2], "b")], _SCHEMA)
    path = str(tmp_path / "feed")
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    refresh_scd2_feed(day1, path, "day1")
    with_deltas, _ = read_scd2_feed(spark, path)
    base_only, _ = read_scd2_feed(spark, path, include_deltas=False)
    assert with_deltas.count() == 3 and base_only.count() == 2
    # Idempotent re-append; an unpublished delta is invisible.
    refresh_scd2_feed(day1, path, "day1")
    assert read_scd2_feed(spark, path)[0].count() == 3
    crash_at_publish(refresh_scd2_feed, day1, path, "day2")
    assert read_scd2_feed(spark, path)[0].count() == 3
    # A base rebuild purges deltas.
    write_scd2_feed(feed, path, "k", "ts", "v", n_shards=2)
    assert read_scd2_feed(spark, path)[0].count() == 2
    assert delta_owners(path) == []


def test_scd2_two_day_cycle_retouched_key_keeps_day1(spark, tmp_path):
    """THE case the feed delta exists for: key 1 changes on day 1 AND
    day 2. Day 2's refresh re-windows key 1 from the feed — with the
    day-1 delta appended it keeps all three states; reading the feed
    base-only (simulating a lost append) provably drops the day-1
    interval, so the delta is load-bearing, not bookkeeping."""
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        read_scd2_history,
        refresh_scd2_feed,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_feed,
        write_scd2_history,
    )

    feed0 = spark.createDataFrame(
        [(1, _TS[0], "a"), (2, _TS[0], "a")], _SCHEMA
    )
    day1 = spark.createDataFrame([(1, _TS[2], "b")], _SCHEMA)
    day2 = spark.createDataFrame([(1, _TS[4], "c")], _SCHEMA)
    fpath = str(tmp_path / "feed")
    hpath = str(tmp_path / "hist")
    write_scd2_feed(feed0, fpath, "k", "ts", "v", n_shards=2)
    write_scd2_history(
        scd2_history(feed0, "k", "ts", "v"), hpath, "k", n_shards=2
    )
    for day_df, bid in ((day1, "day1"), (day2, "day2")):
        feed_v, fmeta = read_scd2_feed(spark, fpath)
        scd2_refresh_in_place(
            hpath, feed_v, day_df, "k", "ts", "v", feed_meta=fmeta
        )
        refresh_scd2_feed(day_df, fpath, bid)
    got, _ = read_scd2_history(spark, hpath)
    want = _hist_cols(
        scd2_history(
            feed0.unionByName(day1).unionByName(day2), "k", "ts", "v"
        )
    )
    assert _hist_cols(got) == want
    # Key 1 holds all three intervals — day 1's 'b' survived day 2.
    k1 = [r for r in _hist_cols(got) if r[0] == 1]
    assert [r[1] for r in k1] == ["a", "b", "c"]

    # Counterfactual: replay day 2 against the BASE-ONLY feed view
    # (the lost-append failure) — the day-1 interval vanishes.
    feed_base, fmeta = read_scd2_feed(spark, fpath, include_deltas=False)
    scd2_refresh_in_place(
        hpath, feed_base, day2, "k", "ts", "v", feed_meta=fmeta
    )
    lost, _ = read_scd2_history(spark, hpath)
    k1_lost = [r for r in _hist_cols(lost) if r[0] == 1]
    assert [r[1] for r in k1_lost] == ["a", "c"]


def test_scd2_two_day_cycle_is_idempotent(spark, tmp_path):
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        read_scd2_history,
        refresh_scd2_feed,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_feed,
        write_scd2_history,
    )

    feed0 = spark.createDataFrame(
        [(k, _TS[0], "a") for k in range(6)], _SCHEMA
    )
    day1 = spark.createDataFrame([(1, _TS[2], "b"), (3, _TS[2], "b")], _SCHEMA)
    day2 = spark.createDataFrame([(1, _TS[4], "c"), (5, _TS[4], "b")], _SCHEMA)
    fpath = str(tmp_path / "feed")
    hpath = str(tmp_path / "hist")
    write_scd2_feed(feed0, fpath, "k", "ts", "v", n_shards=2)
    write_scd2_history(
        scd2_history(feed0, "k", "ts", "v"), hpath, "k", n_shards=2
    )
    want = _hist_cols(
        scd2_history(
            feed0.unionByName(day1).unionByName(day2), "k", "ts", "v"
        )
    )
    for _ in range(2):  # the whole cycle re-runs (crash-retry story)
        for day_df, bid in ((day1, "day1"), (day2, "day2")):
            feed_v, fmeta = read_scd2_feed(spark, fpath)
            scd2_refresh_in_place(
                hpath, feed_v, day_df, "k", "ts", "v", feed_meta=fmeta
            )
            refresh_scd2_feed(day_df, fpath, bid)
        got, _ = read_scd2_history(spark, hpath)
        assert _hist_cols(got) == want


def test_scd2_cow_refresh_with_mismatched_layout_shard_counts(
    spark, tmp_path
):
    """The feed and history layouts may be sharded differently (e.g.
    the feed re-sharded finer as it grows): the in-place refresh can
    then NOT reuse its history-side shard collect for the feed slice
    (different n_shards → different HRW sets) and must fall back to
    the feed layout's own assignment — result still equals the
    rebuild."""
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_feed,
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_feed,
        write_scd2_history,
    )

    rows = [(k, _TS[i], v) for k in range(12) for i, v in [(0, "a"), (2, "b")]]
    new_rows = [(3, _TS[4], "c"), (7, _TS[1], "b")]
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    fpath = str(tmp_path / "feed")
    hpath = str(tmp_path / "hist")
    write_scd2_feed(feed, fpath, "k", "ts", "v", n_shards=8)
    feed_sharded, fmeta = read_scd2_feed(spark, fpath)
    write_scd2_history(
        scd2_history(feed, "k", "ts", "v"), hpath, "k", n_shards=2
    )
    scd2_refresh_in_place(
        hpath, feed_sharded, new_df, "k", "ts", "v", feed_meta=fmeta
    )
    want = _hist_cols(scd2_history(feed.unionByName(new_df), "k", "ts", "v"))
    got, _ = read_scd2_history(spark, hpath)
    assert _hist_cols(got) == want


def test_scd2_cow_crash_recovery_rerun_completes(
    spark, tmp_path, monkeypatch
):
    """The crash-recovery contract the docstring promises (ADVICE r12,
    medium): a crash at the refresh's commit point leaves the old
    history current and readable — marker intact, no refusal — and
    RE-RUNNING the refresh completes the rewrite."""
    import os

    import pytest as _pytest

    from formula1_dataengineering_spark import fsutil
    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_history,
    )

    rows = [(k, _TS[0], "a") for k in range(12)]
    new_rows = [(3, _TS[2], "b"), (7, _TS[3], "c")]
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(new_rows, _SCHEMA)
    path = str(tmp_path / "hist")
    old = scd2_history(feed, "k", "ts", "v")
    write_scd2_history(old, path, "k", n_shards=4)
    real_rename = fsutil.rename

    def dying_rename(spark_, src, dst):
        if "_MANIFEST_v" in dst:
            raise RuntimeError("simulated crash at the commit point")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", dying_rename)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        scd2_refresh_in_place(path, feed, new_df, "k", "ts", "v")
    monkeypatch.setattr(fsutil, "rename", real_rename)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _hist_cols(read_scd2_history(spark, path)[0]) == _hist_cols(old)
    # Recovery = re-running the same refresh.
    scd2_refresh_in_place(path, feed, new_df, "k", "ts", "v")
    got, _ = read_scd2_history(spark, path)
    want = _hist_cols(
        scd2_history(feed.unionByName(new_df), "k", "ts", "v")
    )
    assert _hist_cols(got) == want


def test_scd2_cow_refresh_drops_null_key_batch_rows(spark, tmp_path):
    """Null-key batch rows are filtered at entry (ADVICE r12): the
    refresh result equals the refresh with a pre-filtered batch, and
    the layout never grows a NULL shard partition."""
    import glob
    import os

    from formula1_dataengineering_spark.operators.scd import (
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_history,
    )

    rows = [(k, _TS[0], "a") for k in range(8)]
    feed = spark.createDataFrame(rows, _SCHEMA)
    new_df = spark.createDataFrame(
        [(2, _TS[2], "b"), (None, _TS[2], "x")], _SCHEMA
    )
    path = str(tmp_path / "hist")
    write_scd2_history(
        scd2_history(feed, "k", "ts", "v"), path, "k", n_shards=4
    )
    scd2_refresh_in_place(path, feed, new_df, "k", "ts", "v")
    got, _ = read_scd2_history(spark, path)
    want = _hist_cols(
        scd2_history(
            feed.unionByName(new_df.where("k is not null")), "k", "ts", "v"
        )
    )
    assert _hist_cols(got) == want
    assert not glob.glob(
        os.path.join(path, "history_rows", "*HIVE_DEFAULT*")
    )


def test_touched_shard_sets_matches_per_batch_collects(spark):
    """The one-job multi-batch shard precollect must equal the
    per-refresh distinct+collect it replaces, per batch, including
    null-key exclusion and an empty batch."""
    from formula1_dataengineering_spark.operators.scd import (
        _feed_shard,
        touched_shard_sets,
    )

    d1 = spark.createDataFrame(
        [(k, _TS[0], "a") for k in (1, 5, 9, None)], _SCHEMA
    )
    d2 = spark.createDataFrame([(2, _TS[1], "b")], _SCHEMA)
    d3 = spark.createDataFrame([], _SCHEMA)
    got = touched_shard_sets(
        {"d1": d1, "d2": d2, "d3": d3}, "k", n_shards=8
    )
    for name, df in (("d1", d1), ("d2", d2), ("d3", d3)):
        want = sorted(
            r["shard"]
            for r in df.select("k")
            .where(F.col("k").isNotNull())
            .distinct()
            .withColumn("shard", _feed_shard(F.col("k"), 8))
            .select("shard")
            .distinct()
            .collect()
        )
        assert got[name] == want, name
    assert got["d3"] == []
