"""The one cache lifecycle (spider_engine_spark/pins.py): the package
caches and checkpoints only through it, its three entry points keep
their contract, and a long session that uses it does not accumulate
blocks."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from spider_engine_spark.pins import pin, release, scope

PKG = Path(__file__).resolve().parent.parent / "spider_engine_spark"
SF = "/root/testdata/sf0.001"

_CACHING = re.compile(
    r"\.(persist|cache|localCheckpoint|unpersist)\(|getPersistentRDDs"
)


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_only_pins_module_caches():
    """Every cache, checkpoint and release in the package goes through
    pins.py — one mechanism, not one per operator."""
    offenders = [
        f"{p.relative_to(PKG.parent)}:{i}: {line.strip()}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "pins.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _CACHING.search(line)
    ]
    assert not offenders, "\n".join(offenders)


def test_pin_release_and_scope(spark, tmp_path):
    base = _persisted(spark)
    df = spark.range(100).withColumn("y", F.col("id") * 2)
    with scope() as outer:
        cached = pin(df)
        cached.count()
        with scope() as inner:
            snap = pin(df.filter("id > 10"), snapshot=True)
            lazy = pin(df.filter("id > 20"), snapshot=True, eager=False)
            assert inner == [snap, lazy] and outer == [cached]
            assert _persisted(spark) == base + 3
            release(snap)  # an early release leaves the scope
            assert inner == [lazy]
            assert _persisted(spark) == base + 2
            assert lazy.count() == 79
        # the inner scope freed its snapshot; the outer pin is untouched
        assert _persisted(spark) == base + 1
        assert cached.storageLevel.useMemory
    assert _persisted(spark) == base
    assert not cached.storageLevel.useMemory
    # an unscoped pin lives until released by hand
    unscoped = pin(df, snapshot=True)
    with scope():
        pass
    assert _persisted(spark) == base + 1
    release(unscoped)
    assert _persisted(spark) == base
    # releasing a reliable checkpoint is a no-op: it pins no blocks
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = df.checkpoint()
    release(reliable)
    assert reliable.count() == 100


def test_scopes_are_per_thread(spark):
    """A scope holds only the pins its own thread makes: concurrent
    controller requests never release each other's frames."""
    import sys
    import threading

    base = _persisted(spark)
    errors, barrier = [], threading.Barrier(8)

    def worker(i: int) -> None:
        try:
            with scope() as held:
                mine = [
                    pin(spark.range(10 + i + j), snapshot=True, eager=False)
                    for j in range(3)
                ]
                barrier.wait(timeout=60)
                assert held == mine
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert _persisted(spark) == base


def _controller_cycle(ctl, i: int) -> None:
    def search(value, **kw):
        r = ctl.search(
            {"database": "soak", "table": "t", "fieldName": "body",
             "value": value, **kw}
        )
        assert r["code"] == 0, r
        return r["data"]

    assert search("alpha")["total"] > 0
    assert search("zeta") == {"docs": [], "total": 0}
    search("alpha", filters=[{"field": "n", "type": ">", "int": 2}])
    search(["alpha", "beta"], mode="or")
    search(["alpha", "beta"], mode="and")
    assert ctl.get_doc("soak", "t", "k1")["code"] == 0
    key = f"new{i}"
    assert ctl.add_doc("soak", "t", key, {"body": "alpha gamma", "n": i})[
        "code"
    ] == 0
    assert ctl.update_doc("soak", "t", key, {"body": "beta", "n": i})[
        "code"
    ] == 0
    assert ctl.delete_doc("soak", "t", key)["code"] == 0


def test_soak_one_session_does_not_accumulate_blocks(spark, tmp_path):
    """Every registered query twice, three mixed controller cycles and
    six durable crawl supersteps in one session: the queries and the
    controller leave no persisted RDD behind, and the crawl's count
    stays flat once its one-step-late retire list is full."""
    from spider_engine_spark import webmodel as wm
    from spider_engine_spark.controller import SpiderController
    from spider_engine_spark.operators.frontier import CrawlJob
    from spider_engine_spark.queries import QUERIES

    # "no growth", not "equal": a pin whose plan matches a frame an
    # earlier test cached shares Spark's cache entry, and releasing it
    # frees that entry too
    start = _persisted(spark)
    for _ in range(2):
        for name, fn in QUERIES.items():
            with scope():
                fn(spark, SF).write.mode("overwrite").format("noop").save()
            assert _persisted(spark) <= start, f"{name} leaked"

    ctl = SpiderController(spark, str(tmp_path / "rest"))
    ctl.create_database("soak")
    ctl.create_table(
        "soak", "t",
        [{"name": "k", "type": "primary"}, {"name": "body", "type": "words"},
         {"name": "n", "type": "number"}],
    )
    for i, body in enumerate(["alpha beta", "alpha", "beta gamma", "alpha"]):
        ctl.add_doc("soak", "t", f"k{i}", {"body": body, "n": i})
    for i in range(3):
        _controller_cycle(ctl, i)
    assert _persisted(spark) <= start
    start = _persisted(spark)

    with scope():
        job = CrawlJob(
            spark, str(tmp_path / "crawl"), seeds=wm.seed_urls(20),
            num_shards=4, salts=2, index=True, checkpoint_every=1,
        )
        counts = []
        for _ in range(6):
            job.run_step()
            counts.append(_persisted(spark) - start)
    assert len(set(counts[2:])) == 1, counts
    assert _persisted(spark) <= start
