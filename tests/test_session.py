"""Session helpers: the shuffle-partition cap every bounded stream and
size-aware operator scopes its jobs with."""

from __future__ import annotations

import pytest

from formula1_dataengineering_spark.session import capped_shuffle_partitions

KEY = "spark.sql.shuffle.partitions"


def test_cap_lowers_never_raises_and_restores(spark):
    before = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "8")
        with capped_shuffle_partitions(spark, 3):
            assert spark.conf.get(KEY) == "3"
        assert spark.conf.get(KEY) == "8"
        with capped_shuffle_partitions(spark, 50):
            assert spark.conf.get(KEY) == "8"
        assert spark.conf.get(KEY) == "8"
        with pytest.raises(RuntimeError, match="boom"):
            with capped_shuffle_partitions(spark, 2):
                assert spark.conf.get(KEY) == "2"
                raise RuntimeError("boom")
        assert spark.conf.get(KEY) == "8"
    finally:
        spark.conf.set(KEY, before)


class _Conf(dict):
    def get(self, key, default=None):
        return super().get(key, default)

    def set(self, key, value):
        self[key] = value

    def unset(self, key):
        self.pop(key, None)


class _Session:
    def __init__(self, value):
        self.conf = _Conf({KEY: value})


def test_cap_leaves_symbolic_value_alone():
    # Some platforms accept 'auto'; open-source Spark rejects it at
    # set time, hence the stand-in session.
    s = _Session("auto")
    with capped_shuffle_partitions(s, 4):
        assert s.conf.get(KEY) == "auto"
    assert s.conf == {KEY: "auto"}
