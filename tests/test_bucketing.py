"""operators/bucketing.py — the co-located join must plan with zero
Exchange and zero Sort, and produce exactly the shuffled join's rows."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

import youtube_scraper_db_spark
from youtube_scraper_db_spark.operators.bucketing import (
    ensure_bucketed,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed_pair(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bkt")
    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 6000).select(
        (F.col("id") % 2000).alias("k"), F.col("id").alias("b")
    )
    write_bucketed(left, "t_bkt_left", ["k"], 4, path=str(base / "l"))
    write_bucketed(right, "t_bkt_right", ["k"], 4, path=str(base / "r"))
    return left, right


def test_bucketed_join_has_no_exchange_or_sort(spark, bucketed_pair):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bkt_left").join(spark.table("t_bkt_right"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "Sort [" not in plan, plan  # "SortMergeJoin [" doesn't match
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_agg_has_no_exchange(spark, bucketed_pair):
    agg = spark.table("t_bkt_right").groupBy("k").agg(F.sum("b").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bucketed_join_matches_shuffled_join(spark, bucketed_pair):
    left, right = bucketed_pair
    want = left.join(right, "k").groupBy("a").agg(
        F.count("*").alias("n"), F.sum("b").alias("s")
    )
    got = (
        spark.table("t_bkt_left")
        .join(spark.table("t_bkt_right"), "k")
        .groupBy("a")
        .agg(F.count("*").alias("n"), F.sum("b").alias("s"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ensure_bucketed_idempotent(spark, bucketed_pair, tmp_path):
    left, _ = bucketed_pair
    before = spark.table("t_bkt_left").count()
    df = ensure_bucketed(
        spark, left.limit(5), "t_bkt_left", ["k"], 4, path=str(tmp_path / "x")
    )
    # table already existed: not rewritten, same row count
    assert df.count() == before


def test_package_holds_no_absolute_checkout_path():
    """The registry's bucketed tables go under whichever checkout runs
    it, so no package source names a checkout's absolute path."""
    pkg = Path(youtube_scraper_db_spark.__file__).parent
    root = str(pkg.parent)
    hits = [str(p) for p in pkg.rglob("*.py") if root in p.read_text(encoding="utf-8")]
    assert not hits
