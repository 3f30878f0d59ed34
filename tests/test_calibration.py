"""The bench's frozen calibration snapshots (plans/calibration.py) must
return exactly what their live catalog twins return: the drift control
times old code, so a snapshot that silently diverged would skew the
divisor without any gate noticing. The three entries that still run
live code are pinned by source hash, so an edit under them fails here
until the old code is snapshotted into plans/calibration.py."""

from __future__ import annotations

import hashlib
import importlib
import inspect
import os

import pandas as pd
import pytest

import formula1_dataengineering_spark

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


#: sha256 prefixes of the live code under the calibration block's
#: pricing_summary, asof_backward_purchase and knn_bruteforce entries:
#: whole modules by path, single functions by dotted name.
_LIVE_CALIBRATION_SOURCES = {
    "operators/asof.py": "522155c1b5846718",
    "functions/exactsum.py": "5fccc00323fd5ccd",
    "operators.similarity.cosine_topk": "975520a085199436",
    "plans.queries.pricing_summary": "de32517bc089a115",
    "plans.queries.asof_backward_purchase": "d78b2d830cbf6b0f",
    "plans.queries.knn_bruteforce": "2e7d944e58f990d1",
}


def _source(key: str) -> str:
    pkg = formula1_dataengineering_spark
    if key.endswith(".py"):
        path = os.path.join(os.path.dirname(pkg.__file__), key)
        with open(path, encoding="utf-8") as fh:
            return fh.read()
    module, name = key.rsplit(".", 1)
    mod = importlib.import_module(f"{pkg.__name__}.{module}")
    return inspect.getsource(getattr(mod, name))


def test_live_calibration_sources_unchanged():
    moved = sorted(
        key
        for key, want in _LIVE_CALIBRATION_SOURCES.items()
        if hashlib.sha256(_source(key).encode()).hexdigest()[:16] != want
    )
    assert not moved, (
        f"{moved} changed under the bench's live calibration entries: "
        "snapshot into plans/calibration.py first, then re-pin the "
        "hashes here"
    )
