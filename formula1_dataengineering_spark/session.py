"""SparkSession factory.

The reference runs single-threaded eager pandas (no session concept);
here every query is a lazy Catalyst plan executed by a tuned session.

Scale notes (100 TB target):
- AQE on: runtime join-strategy switches, partition coalescing, and
  skew-join splitting replace any hand-scheduling.
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster this is overridden (or left to AQE's
  coalescing with a high initial value).
- UTC session timezone pins timestamp semantics so results hash-match
  the DuckDB oracle (naive-UTC) bit-for-bit.
- Arrow on: every pandas boundary (toPandas, pandas_udf, applyInPandas)
  is vectorized batch transfer, never row pickling.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "formula1_dataengineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode is a single JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster, executors/memory come from spark-submit
    and everything here still applies.
    """
    master = master or f"local[{_DEF_CPUS}]"
    shuffle = str(shuffle_partitions or _DEF_CPUS)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead
        # of holding partition count at the cluster parallelism — the
        # Spark-docs-recommended production setting: small shuffles
        # collapse to few real tasks, 100-TB shuffles still split at
        # the advisory size. Without it every tiny sf0.1 shuffle pays
        # 32 task launches.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python Data Source pushdown is a session capability flag, not
        # a per-query toggle (pushFilters() needs it at COLLECT time,
        # so a gate-scoped set/restore around a lazy frame breaks) —
        # pin it at bootstrap so no gate has to mutate shared state.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Deterministic float formatting across JVM locales.
        .config("spark.sql.legacy.sizeOfNull", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session SQL confs for the duration of a block, restoring the
    prior values (or unsetting keys that had none) on exit — including
    exception exits. The shared primitive for operators that pin a conf
    while a plan is BUILT or a stream STARTS (the consumer keeps the
    value it captured; the session gets its setting back)."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def capped_shuffle_partitions(spark: SparkSession, n: int):
    """Lower ``spark.sql.shuffle.partitions`` to at most ``n`` for the
    block — never raise it — and restore the prior value on exit. A
    plan or stream built inside keeps the value it captured. A
    non-numeric setting (some platforms use symbolic values like
    'auto') is left alone: there is no number to reason about."""
    key = "spark.sql.shuffle.partitions"
    try:
        confs = {key: str(min(int(spark.conf.get(key)), n))}
    except (ValueError, TypeError):
        confs = {}
    with scoped_conf(spark, confs):
        yield
