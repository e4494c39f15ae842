"""Session factory defaults and between-query hygiene."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.session import default_driver_memory, reset_session_state


@pytest.mark.parametrize(
    "ram_gb, expected",
    [(15, f"{15 * 1024 // 2}m"), (32, "16384m"), (256, "16384m")],
)
def test_default_driver_memory_is_half_ram_capped_at_16g(monkeypatch, ram_gb, expected):
    page = 4096
    pages = ram_gb * 2**30 // page
    monkeypatch.setattr(
        os, "sysconf", lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name]
    )
    assert default_driver_memory() == expected


def test_reset_session_state_releases_persisted_rdds(spark):
    jsc = spark.sparkContext._jsc
    df = spark.range(1000).localCheckpoint()
    assert df.count() == 1000
    assert len(dict(jsc.getPersistentRDDs())) > 0
    reset_session_state(spark)
    assert len(dict(jsc.getPersistentRDDs())) == 0


def test_failed_query_does_not_damage_the_next(spark):
    @F.udf("long")
    def boom(x):
        raise ValueError("boom")

    with pytest.raises(Exception, match="boom"):
        spark.range(100).select(boom("id")).collect()
    spark.sparkContext.cancelAllJobs()
    reset_session_state(spark)

    rows = (
        spark.range(100)
        .groupBy((F.col("id") % 3).alias("k"))
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .orderBy("k")
        .collect()
    )
    assert [(r.k, r.n, r.s) for r in rows] == [(0, 34, 1683), (1, 33, 1617), (2, 33, 1650)]
