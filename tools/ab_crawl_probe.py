"""One bench-crawl-probe trial: bench.py's crawl_2steps block with its
parameters (memory mode, checkpoint_every=3). The session takes
get_spark's defaults, so SPARK_GRAFT_CPUS sets the core count. For an
interleaved A/B of two code versions, check each version out into its
own directory and run from inside the tree under test, with one copy of
this script for both:

    cd <tree> && SPARK_GRAFT_CPUS=4 python <script> <label>

Prints one JSON line: step and flush timings, per-step phases and the
session's defaultParallelism. Results: PLANS.md "Round-5 A/B" with
BENCH/ab_crawl_r3r4r5.jsonl, and BENCH/ab_crawl_r08_c4.jsonl.
"""

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from spider_engine_spark import webmodel as wm  # noqa: E402
from spider_engine_spark.operators.frontier import CrawlJob  # noqa: E402
from spider_engine_spark.session import get_spark  # noqa: E402

label = sys.argv[1] if len(sys.argv) > 1 else "?"
spark = get_spark(app_name=f"ab_{label}")

# match bench.py: untimed warm-up so the trial measures the crawl
spark.range(1_000_000).selectExpr("sum(id)").write.mode(
    "overwrite"
).format("noop").save()

crawl_root = tempfile.mkdtemp(prefix=f"ab_crawl_{label}_")
try:
    cfg = wm.WebConfig(num_hosts=2000, vocab_size=5000)
    job = CrawlJob(
        spark,
        crawl_root,
        seeds=wm.seed_urls(2000, cfg),
        num_shards=16,
        salts=4,
        index=True,
        cfg=cfg,
        checkpoint_every=3,
    )
    t0 = time.monotonic()
    processed = 0
    steps, phases = [], []
    for _ in range(2):
        ts = time.monotonic()
        m = job.run_step()
        steps.append(round(time.monotonic() - ts, 3))
        phases.append(m.get("phases"))
        processed += m.get("fetched", 0) + m.get("candidates", 0)
    crawl_sec = time.monotonic() - t0
    job.flush()
    flush_sec = time.monotonic() - t0 - crawl_sec
    print(json.dumps({
        "label": label,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "crawl_sec": round(crawl_sec, 3),
        "step_secs": steps,
        "flush_sec": round(flush_sec, 3),
        "urls_per_sec": round(processed / crawl_sec, 1),
        "phases": phases,
    }))
finally:
    shutil.rmtree(crawl_root, ignore_errors=True)
    spark.stop()
