"""One measurement tool for bench.py's leaves, layer by layer.

    python tools/measure.py run [LEAF...]             # one JSONL record per leaf
    python tools/measure.py plan LEAF                 # formatted executed plan
    python tools/measure.py ab TREE_A TREE_B LEAF...  # interleaved A/B

Run from the root of the tree under test: the package, bench.py and
perfbench are imported from the working directory. The leaves are
bench.py's: every HEADLINE query, then index_build, catalog_ingest_89k
and crawl_2steps (the default for `run`); any QUERIES name is accepted.
The session and warm-up are bench.py's, and each leaf's untimed set-up
(the documents count, the catalog table, the crawl bootstrap) is too.

`run` prints {leaf, cpus, sf, wall_s, spark.*, pyudf.*} per leaf: the
spark.* and pyudf.* counters come from a fresh perfbench Tracer opened
around the timed region alone. crawl_2steps also carries each
superstep's phases. `plan` prints the formatted plan of a QUERIES leaf
after running it, so the adaptive plan is final. `ab` runs `run` in
TREE_A and TREE_B for ROUNDS rounds, alternating which side goes first,
prints every record with its side and round, then per leaf the min of
each side, the median of the paired ratios wall_a / wall_b (above 1:
B is faster) and the rounds B won.

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS (default: the cores this process may run on), which
sets local[N] and is stamped in every record.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager

ROUNDS = 5
EXTRA_LEAVES = ["index_build", "catalog_ingest_89k", "crawl_2steps"]


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


@contextmanager
def _leaf(spark, sf_dir: str, leaf: str):
    """Yield the leaf's timed body, which returns extra record fields or
    None, between bench.py's untimed set-up and tear-down."""
    from bench import force
    from spider_engine_spark.queries import QUERIES

    if leaf in QUERIES:
        yield lambda: force(QUERIES[leaf](spark, sf_dir))
    elif leaf == "index_build":
        from spider_engine_spark.operators.postings import build_postings_native

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.count()
        yield lambda: force(build_postings_native(docs, "doc_id", "text"))
    elif leaf == "catalog_ingest_89k":
        from pyspark.sql import functions as F

        from spider_engine_spark.plans.catalog import Catalog

        root = tempfile.mkdtemp(prefix="measure_ingest_")
        try:
            cat = Catalog(spark, root)
            cat.create_database("bench")
            table = cat.create_table("bench", "weibo", {
                "key": "primary", "weibo_content": "words",
                "user_name": "whole", "date": "time", "read_cnt": "number",
            })
            words = F.concat_ws(" ", *[
                F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(i)), F.lit(20000)))
                for i in range(20)
            ])
            corpus = spark.range(89_000).select(
                F.concat(F.lit("k"), F.col("id")).alias("key"),
                words.alias("weibo_content"),
                F.concat(F.lit("user"), F.pmod(F.col("id"), F.lit(5000))).alias("user_name"),
                F.lit("2024-01-01 00:00:00").alias("date"),
                (F.col("id") % 100000).alias("read_cnt"),
            )
            yield lambda: dict(zip(("accepted", "burned"), table.add_docs_df(corpus)))
        finally:
            shutil.rmtree(root, ignore_errors=True)
    elif leaf == "crawl_2steps":
        from spider_engine_spark import webmodel as wm
        from spider_engine_spark.operators.frontier import CrawlJob

        root = tempfile.mkdtemp(prefix="measure_crawl_")
        try:
            cfg = wm.WebConfig(num_hosts=2000, vocab_size=5000)
            job = CrawlJob(
                spark, root, seeds=wm.seed_urls(2000, cfg), num_shards=16,
                salts=4, index=True, cfg=cfg, checkpoint_every=3,
            )
            yield lambda: {"phases": [job.run_step()["phases"] for _ in range(2)]}
            job.flush()
        finally:
            shutil.rmtree(root, ignore_errors=True)
    else:
        raise ValueError(f"unknown leaf {leaf!r}")


def measure(spark, sf_dir: str, leaf: str) -> dict:
    """One leaf's record: wall time and the Tracer's counters over the
    timed region."""
    from perfbench.tracing import Tracer

    with _leaf(spark, sf_dir, leaf) as body:
        tracer = Tracer(spark)
        tracer.mark_sql_start()
        t0 = time.monotonic()
        # a job group of its own: the status store keeps the jobs of a
        # group for the session, so a repeated leaf would count them again
        with tracer.op(f"{leaf}.{uuid.uuid4().hex}"):
            extra = body()
        wall = time.monotonic() - t0
        tracer.mark_sql_end()
        return {
            "leaf": leaf, "cpus": cpus(), "sf": sf_dir, "wall_s": round(wall, 3),
            **tracer.spark_metrics(), **(extra or {}),
        }


def plan(spark, sf_dir: str, leaf: str) -> str:
    """The formatted plan of a QUERIES leaf after running it through its
    own query execution, so the adaptive plan is the final one."""
    from spider_engine_spark.queries import QUERIES

    qe = QUERIES[leaf](spark, sf_dir)._jdf.queryExecution()
    qe.toRdd().count()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def summarize(a: list[float], b: list[float]) -> dict:
    """The A/B statistic over paired rounds: each side's min, the median
    of wall_a / wall_b (above 1: B is faster) and the rounds B won."""
    return {
        "a_min_s": min(a),
        "b_min_s": min(b),
        "ratio_median": round(statistics.median(x / y for x, y in zip(a, b)), 3),
        "b_wins": sum(y < x for x, y in zip(a, b)),
    }


def ab(tree_a: str, tree_b: str, leaves: list[str]) -> None:
    walls: dict[str, dict[str, list[float]]] = {"a": {}, "b": {}}
    for rnd in range(ROUNDS):
        sides = [("a", tree_a), ("b", tree_b)]
        for side, tree in sides if rnd % 2 == 0 else sides[::-1]:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "run", *leaves],
                cwd=tree, stdout=subprocess.PIPE, text=True, check=True,
            ).stdout
            for line in out.splitlines():
                rec = json.loads(line)
                walls[side].setdefault(rec["leaf"], []).append(rec["wall_s"])
                print(json.dumps({"side": side, "tree": tree, "round": rnd, **rec}), flush=True)
    for leaf in leaves:
        print(json.dumps({"leaf": leaf, "cpus": cpus(), "rounds": ROUNDS,
                          **summarize(walls["a"][leaf], walls["b"][leaf])}))


def main(argv: list[str]) -> None:
    mode, args = (argv or [""])[0], argv[1:]
    if len(args) < {"run": 0, "plan": 1, "ab": 3}.get(mode, len(args) + 1):
        raise SystemExit(__doc__)
    if mode == "ab":
        ab(args[0], args[1], args[2:])
        return
    sys.path.insert(0, os.getcwd())
    import bench
    from spider_engine_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench", master=f"local[{cpus()}]")
    try:
        # bench.py's warm-up, verbatim
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        bench.force(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .limit(1000).groupBy("lang").count()
        )
        if mode == "run":
            for leaf in args or [*bench.HEADLINE, *EXTRA_LEAVES]:
                print(json.dumps(measure(spark, sf_dir, leaf)), flush=True)
        else:
            print(plan(spark, sf_dir, args[0]))
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
