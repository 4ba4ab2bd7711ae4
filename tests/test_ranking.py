"""Distributed exact ntile / global ranks (operators/ranking.py).

The scale-safe form must be BIT-IDENTICAL to the single-partition
global window it replaces (and therefore to the window_ntile_users
DuckDB oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spider_engine_spark.operators.ranking import (
    distributed_ntile,
    with_global_ranks,
)


def _mkdf(spark, n, seed=7):
    import random

    rng = random.Random(seed)
    rows = [(i, rng.randint(0, n // 2 or 1) * 1.5) for i in range(n)]
    return spark.createDataFrame(rows, "user_id long, total double")


@pytest.mark.parametrize("n_rows,buckets", [
    (1, 4), (3, 4), (97, 4), (100, 4), (1000, 7), (5, 9), (8, 1),
])
def test_distributed_ntile_matches_window_ntile(spark, n_rows, buckets):
    df = _mkdf(spark, n_rows)
    order = [F.desc("total"), F.asc("user_id")]
    w = Window.orderBy(*order)
    expect = {
        (r.user_id): r.q
        for r in df.withColumn("q", F.ntile(buckets).over(w)).collect()
    }
    got = {
        r.user_id: r.q
        for r in distributed_ntile(df, buckets, order, out="q").collect()
    }
    assert got == expect


def test_distributed_ntile_empty_and_bad_args(spark):
    df = _mkdf(spark, 5).filter(F.lit(False))
    out = distributed_ntile(df, 4, [F.asc("user_id")], out="q")
    assert out.count() == 0
    assert "q" in out.columns
    with pytest.raises(ValueError):
        distributed_ntile(_mkdf(spark, 3), 0, [F.asc("user_id")])


def test_global_ranks_are_exact_and_partitioned(spark):
    df = _mkdf(spark, 500)
    order = [F.desc("total"), F.asc("user_id")]
    ranked, total = with_global_ranks(df, order, out="r", num_partitions=8)
    assert total == 500
    w = Window.orderBy(*order)
    expect = {
        r.user_id: r.r
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    got = {r.user_id: r.r for r in ranked.collect()}
    assert got == expect
    # rows really spread over multiple partitions at the ranking stage
    # (the returned frame may be AQE-coalesced afterwards — that's fine;
    # the per-partition window ran on the range-partitioned frame)
    spread = (
        df.repartitionByRange(8, *order)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert spread > 1


def test_window_ntile_users_has_no_global_window(spark):
    """The driver query's RETURNED plan must contain no window at all
    (ranking happened at construction, partitioned by pid); its result
    must equal the old global-window form exactly."""
    from spider_engine_spark.queries import QUERIES, _dsum, load

    sf = "/root/testdata/sf0.001"
    out = QUERIES["window_ntile_users"](spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    got = {(r.user_id): (r.total, r.quartile) for r in out.collect()}
    e = load(spark, sf, "events")
    u = e.groupBy("user_id").agg(_dsum(F.col("value"), "total"))
    w = Window.orderBy(F.desc("total"), F.asc("user_id"))
    expect = {
        r.user_id: (r.total, r.quartile)
        for r in u.withColumn(
            "quartile", F.ntile(4).over(w).cast("long")
        ).collect()
    }
    assert got == expect


def _pinned_rdd_ids(spark) -> set[int]:
    """Ids of RDDs currently holding blocks in the block manager."""
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_global_ranks_release_and_reliable_modes(spark, tmp_path):
    """The one localCheckpoint behind a ranks result is pinned in the
    caller's scope and released when it exits; reliable mode pins
    nothing in the block manager."""
    from spider_engine_spark.pins import scope

    df = _mkdf(spark, 200)
    order = [F.desc("total"), F.asc("user_id")]
    before = _pinned_rdd_ids(spark)
    with scope() as held:
        out = distributed_ntile(df, 4, order, out="q")
        assert out.count() == 200
        pinned = _pinned_rdd_ids(spark) - before
        assert len(pinned) == 1
        # the input cache is already released: the scope holds only the
        # snapshot the result reads
        (snap,) = held
        assert snap._jdf.queryExecution().analyzed().rdd().id() in pinned
    assert not (_pinned_rdd_ids(spark) - before)
    # reliable mode: nothing block-pinned, results identical
    before = _pinned_rdd_ids(spark)
    out2 = distributed_ntile(
        df, 4, order, out="q", checkpoint_dir=str(tmp_path / "rk")
    )
    got = {r.user_id: r.q for r in out2.collect()}
    assert not (_pinned_rdd_ids(spark) - before)
    with scope():
        expect = {
            r.user_id: r.q
            for r in distributed_ntile(df, 4, order, out="q").collect()
        }
    assert got == expect
