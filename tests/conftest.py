from __future__ import annotations

import pytest

from spider_engine_spark.session import get_spark

# Test-only bounded collects over CrawlJob's DataFrame views. The crawl
# corpora in tests are a few hundred URLs; the cap is a tripwire so a
# future fixture can't silently grow into a driver-OOM collect.
_VIEW_CAP = 100_000


def _capped(rows, what):
    assert len(rows) <= _VIEW_CAP, f"{what} view exceeded test cap"
    return rows


def seen_urls(job) -> set[str]:
    rows = _capped(job.seen_df().limit(_VIEW_CAP + 1).collect(), "seen")
    return {r["url"] for r in rows}


def fetched_urls_by_step(job) -> dict[int, list[str]]:
    rows = _capped(
        job.fetched_df().limit(_VIEW_CAP + 1).collect(), "fetched"
    )
    out: dict[int, list[str]] = {}
    for r in rows:
        out.setdefault(r["fetch_step"], []).append(r["url"])
    return {k: sorted(v) for k, v in out.items()}


def leaf_metrics(df) -> list[dict[str, int]]:
    """One {SQL metric: value} dict per leaf of df's executed plan (a
    scan leaf carries numFiles and numPartitions). A prior action on df
    populates the values."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        metrics = {}
        it = leaves.apply(i).metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append(metrics)
    return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="spider-engine-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()
