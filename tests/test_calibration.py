"""The bench's frozen calibration snapshots (plans/calibration.py) must
return exactly what their live catalog twins return: the drift control
times old code, so a snapshot that silently diverged would skew the
divisor without any gate noticing."""

from __future__ import annotations

import pandas as pd
import pytest

from formula1_dataengineering_spark.plans import QUERIES
from formula1_dataengineering_spark.plans.calibration import (
    cal_minhash_lsh_docs,
    cal_supplier_pagerank,
    calibration_queries,
)

from .oracle_harness import canonicalize


def test_calibration_block_names():
    assert sorted(calibration_queries()) == [
        "asof_backward_purchase",
        "knn_bruteforce",
        "minhash_lsh_docs",
        "pricing_summary",
        "supplier_pagerank",
    ]


@pytest.mark.parametrize(
    "name, frozen",
    [
        ("minhash_lsh_docs", cal_minhash_lsh_docs),
        ("supplier_pagerank", cal_supplier_pagerank),
    ],
)
def test_frozen_snapshot_equals_live_query(spark, sf_dir, name, frozen):
    got = canonicalize(frozen(spark, sf_dir).toPandas())
    want = canonicalize(QUERIES[name](spark, sf_dir).toPandas())
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)
