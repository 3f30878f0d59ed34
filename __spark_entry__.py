"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` maps
every implemented operator (SURVEY.md §2) to a (spark, sf_dir) →
DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL the
driver hash-compares against at sf0.01.

Registration ORDER is the driver-verification rotation policy: the
driver hashes the first 50 entries each round, so we order by
staleness, computed at import time from the recorded
``CORRECTNESS_r*.json`` files — (1) ``_PRIORITY``: queries REWRITTEN
this round whose old green hash no longer covers the current plan,
(2) queries that have never earned a green driver row (new this round),
(3) everything else, oldest green row first. The local DuckDB harness
(tests/test_queries_oracle.py) still guards the full catalog every round.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from formula1_dataengineering_spark.plans import ORACLE_SQL, QUERIES

#: Queries substantially rewritten THIS round: their existing green
#: driver row hashed the pre-rewrite plan, so they jump the staleness
#: queue (per round-4 advice). Keep this list current — add any query
#: whose Spark plan or oracle changed since its last green row.
_PRIORITY: list[str] = [
    # Stored-layout gates whose artifact holds a dedup, ANN or SCD2
    # layout: ingest deltas now commit through the manifest and every
    # table opens as one Parquet scan, so their plans moved (and their
    # layout_artifact tags were bumped past the marker format).
    "ivf_pq_topk_indexed",
    "ann_multiprobe_recall",
    "incremental_dedup_indexed",
    "end_to_end_incremental_ingest",
    "e2e_ingest_neardup_resolution",
    "scd2_refresh_pruned_history",
    "scd2_cow_refresh_history",
    "scd2_two_day_cycle_history",
    "ann_index_delta_topk",
    "ann_delta_recall",
    "ann_sampled_recall_referee",
    "ann_rebuild_trigger_policy",
    "dedup_index_compaction_probe",
    "ann_index_compaction_topk",
    "scd2_feed_compaction_history",
    "stream_feed_ingest_history",
    "ann_maintenance_policy",
    "dedup_index_maintenance",
    "scd2_feed_maintenance",
    "layout_vacuum_sweep",
    "scd2_history_retention",
    "stream_dedup_ingest_probe",
    "compaction_ingest_interleave",
    "dedup_index_retraction",
    "ann_index_retraction",
    "scd2_feed_key_deletion",
    "scd2_history_key_deletion",
    "dedup_maintenance_deletion_drift",
    "scd2_feed_deletion_drift",
    "layout_maintenance_umbrella",
    "scd2_erasure_end_to_end",
    "snapshot_read_across_commit",
    # round 17 (optimization round 2) — gates whose PLANS changed this
    # round, so their old green rows hashed pre-change execution:
    # - the six LSH pair gates: the hot-bucket guard's window became a
    #   cached hash aggregate + keyed join (operators/dedup.
    #   exact_dup_stars — VERDICT r16 item 1); values identical
    #   (reps/stars equality pinned), plan rewritten.
    # - the multiprobe recall gates: nprobe=[1,2,4] shared-scan list
    #   form replaces three independent probe plans (VERDICT r16
    #   item 5); ann_sampled_recall_referee overlaps its two referee
    #   collects.
    # - the ANN delta family: refresh_ann_index stages its delta and
    #   swaps after the clash verdict (ADVICE r16 high).
    # - the dedup-index ingest family: refresh/write_dedup_index land
    #   their two tables concurrently (same marker protocol).
    # - supplier_pagerank: broadcast node tables into the iteration
    #   joins (guide §3.1).
    # - batch 3 (same round): bm25's single tokenization pass
    #   (bm25_topk_docs + hybrid_rrf_fusion), the PSI edges cache, the
    #   e2e-resolution members cache, the SCD2 changed-key
    #   localCheckpoint pin (all four refresh-shaped SCD2 gates), and
    #   the deletion verbs' folded touched/count job.
    "minhash_lsh_docs",
    "ngram_jaccard_docs",
    "fuzzy_neardup_pairs",
    "corpus_selection",
    "minhash_lsh_fast_dup_recall",
    "lsh_hot_bucket_guard",
    "supplier_pagerank",
    "incremental_dedup_new_batch",
    "bm25_topk_docs",
    "hybrid_rrf_fusion",
    "events_stream_psi_drift",
    "scd2_refresh_history",
]


def _latest_green_round() -> dict[str, int]:
    """name → newest round with a hash-green driver CORRECTNESS row."""
    base = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(base, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and row.get("hash_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _ordered(mapping):
    latest = _latest_green_round()
    prio = [k for k in _PRIORITY if k in mapping]
    in_prio = set(prio)
    # never-green sorts first (latest defaults to 0 < any round), then
    # ascending by the round of the newest green row; name breaks ties
    # so the order is deterministic.
    rest = sorted(
        (k for k in mapping if k not in in_prio),
        key=lambda k: (latest.get(k, 0), k),
    )
    return {k: mapping[k] for k in [*prio, *rest]}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's qualifying-classification lifecycle
    (bucket → clean → best-per-driver-per-Q → Q3⊕Q2⊕Q1 grid) end to
    end through the f1 operator stack."""
    return QUERIES["qualifying_grid_events"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(ORACLE_SQL)
