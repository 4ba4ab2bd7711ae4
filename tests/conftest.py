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


def in_job_group(spark, fn):
    """Run fn() under a Spark job group of its own: (its result, the ids
    of the jobs it ran, the plan nodes of those jobs' SQL executions
    that evaluate Python, i.e. carry a "data sent to Python workers"
    metric)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    python_nodes = 0
    it = store.executionsList().iterator()
    while jobs and it.hasNext():
        e = it.next()
        if not any(e.jobs().contains(j) for j in jobs):
            continue
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            metrics = nodes.next().metrics().iterator()
            while metrics.hasNext():
                if metrics.next().name() == "data sent to Python workers":
                    python_nodes += 1
    return out, jobs, python_nodes


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
