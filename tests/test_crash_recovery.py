"""Crash-injection oracles: a superstep may die between ANY two snapshot
commits; resume must be exactly-once (the frontier commit is the step's
commit point; orphan appends are snapshot-reverted on restart)."""

from __future__ import annotations

import pytest

from spider_engine_spark import webmodel as wm
from spider_engine_spark.operators.frontier import CrawlJob
from spider_engine_spark.simulator import ReplaySimulator

from conftest import fetched_urls_by_step, seen_urls

SEEDS = wm.seed_urls(10)


class _CrashAt:
    """Wraps TableIO.write to raise after n successful writes."""

    def __init__(self, io, n):
        self.io = io
        self.left = n
        self.orig = io.write

    def __enter__(self):
        def crashing_write(*a, **kw):
            if self.left == 0:
                raise RuntimeError("injected crash")
            self.left -= 1
            return self.orig(*a, **kw)

        self.io.write = crashing_write
        return self

    def __exit__(self, *exc):
        self.io.write = self.orig
        return False


def _writes_of_one_step(job) -> int:
    """Run one uncrashed superstep; return how many snapshots it wrote."""
    budget = 100
    with _CrashAt(job.io, budget) as counter:
        job.run_step()
    return budget - counter.left


@pytest.mark.parametrize("crash_after", [0, 1, 2, 3, 4])
def test_resume_after_crash_at_every_commit_boundary(
    spark, tmp_path_factory, crash_after
):
    """Run step 1 normally, crash step 2 after `crash_after` snapshot
    commits (0 = before docs, ..., 4 = before the frontier), resume and
    finish: final state must equal the replay simulator's."""
    root = str(tmp_path_factory.mktemp(f"crash{crash_after}"))
    job = CrawlJob(spark, root, seeds=SEEDS, num_shards=2, salts=2)
    # a clean step commits docs, seen, filter, postings, frontier: the
    # parametrization covers every boundary only while this holds
    assert _writes_of_one_step(job) == 5

    crashed = False
    with _CrashAt(job.io, crash_after):
        try:
            job.run_step()
        except RuntimeError:
            crashed = True
    assert crashed, "crash point beyond the step's commit count"

    # resume from the on-disk snapshots with a fresh job
    job2 = CrawlJob(spark, root, num_shards=2, salts=2)
    assert job2.step_no == 1  # step 2 never committed
    job2.run(2)  # re-run step 2 + step 3

    sim = ReplaySimulator(SEEDS)
    sim.run(3)
    assert fetched_urls_by_step(job2) == sim.fetched_by_step
    assert seen_urls(job2) == sim.seen
    # postings not double-counted by the orphan append
    postings = job2.postings()
    row = postings.orderBy("term").collect()[0]
    n_docs_with_term = sum(
        1
        for d in sim.docs.values()
        if any(
            row["term"] in s["text"].split()
            for s in d["spans"]
            if s["kind"] == "text"
        )
    )
    assert row["df"] == n_docs_with_term


@pytest.mark.parametrize("crash_after", [0, 1, 2, 3])
def test_memory_mode_crash_mid_checkpoint(
    spark, tmp_path_factory, crash_after
):
    """checkpoint_every>1: a crash in the middle of flush() (after
    `crash_after` of its table writes) must leave a resumable state —
    the frontier snapshot is written LAST, so resume reverts any table
    ahead of it and replays the steps since the previous checkpoint,
    landing bit-equal with the replay simulator."""
    root = str(tmp_path_factory.mktemp(f"memcrash{crash_after}"))
    job = CrawlJob(
        spark, root, seeds=SEEDS, num_shards=2, salts=2,
        checkpoint_every=2, index=False,
    )
    job.run_step()  # step 1 in memory
    crashed = False
    with _CrashAt(job.io, crash_after):
        try:
            job.run_step()  # step 2 + the checkpoint flush
        except RuntimeError:
            crashed = True
    assert crashed

    job2 = CrawlJob(
        spark, root, num_shards=2, salts=2, checkpoint_every=2, index=False
    )
    # frontier never committed -> resume replays from the bootstrap
    assert job2.step_no == 0
    job2.run(3)
    sim = ReplaySimulator(SEEDS)
    sim.run(3)
    assert fetched_urls_by_step(job2) == sim.fetched_by_step
    assert seen_urls(job2) == sim.seen


def test_streaming_ingest_crash_between_base_and_postings(
    spark, tmp_path_factory
):
    """The foreachBatch handler may die after the base append but before
    the postings append; the replayed batch must complete the postings
    (per-table batch_id tracking) — base and index never diverge."""
    import pyspark.sql.functions as F

    from spider_engine_spark.sources.tableio import TableIO
    from spider_engine_spark.streaming import ingest as ing

    root = str(tmp_path_factory.mktemp("stream_crash"))
    io = TableIO(root)
    batch = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta w"), F.col("id") % 7).alias("text"),
    )

    # simulate the handler body crashing between the two appends
    io.write("base", batch, mode="append", meta={"batch_id": 0})
    # ... crash here: postings for batch 0 never written ...

    # replay of batch 0 through the REAL handler
    ing.make_batch_handler(io, compact_every=4)(batch, 0)
    # base not double-appended, postings completed
    assert io.read(spark, "base").count() == 100
    alpha = (
        io.read(spark, "postings").filter(F.col("term") == "alpha").collect()
    )
    assert len(alpha) == 1 and alpha[0]["df"] == 100


def test_streaming_ingest_crash_between_append_and_compaction(
    spark, tmp_path_factory
):
    """A compaction batch (every compact_every-th) has a THIRD commit:
    base append -> postings append -> merged-postings overwrite. A crash
    between the postings append and the compaction commit must, on
    replay, skip both appends (per-table batch_id) and still run the
    compaction; base and postings never diverge across that window, and
    a second replay after the compaction commit is a fixpoint."""
    import pyspark.sql.functions as F

    from spider_engine_spark.sources.tableio import TableIO
    from spider_engine_spark.streaming import ingest as ing

    root = str(tmp_path_factory.mktemp("stream_crash2"))
    io = TableIO(root)

    def batch_df(b):
        return spark.range(50).select(
            (F.col("id") + 50 * b).alias("doc_id"),
            F.concat(F.lit("alpha beta w"), F.col("id") % 7).alias("text"),
        )

    handler = ing.make_batch_handler(io, compact_every=2)
    handler(batch_df(0), 0)

    # batch 1 is a compaction batch; crash after both appends but BEFORE
    # the compaction commit = run only the append part of the handler
    from spider_engine_spark.operators.postings import build_postings_native

    io.write("base", batch_df(1), mode="append", meta={"batch_id": 1})
    io.write(
        "postings",
        build_postings_native(batch_df(1), "doc_id", "text"),
        mode="append",
        meta={"batch_id": 1},
    )
    # ... crash here: compaction for batch 1 never committed ...
    n_dirs_before = len(io._entry("postings")["dirs"])
    assert n_dirs_before == 2  # two uncompacted appends

    # replay of batch 1 through the REAL handler
    handler(batch_df(1), 1)
    assert io.read(spark, "base").count() == 100  # appends not repeated
    merged = io.read(spark, "postings")
    alpha = merged.filter(F.col("term") == "alpha").collect()
    assert len(alpha) == 1 and alpha[0]["df"] == 100  # compaction done
    assert len(io._entry("postings")["dirs"]) == 1

    # a second replay (crash AFTER the compaction commit) is a fixpoint
    handler(batch_df(1), 1)
    again = io.read(spark, "postings").filter(F.col("term") == "alpha").collect()
    assert len(again) == 1 and again[0]["df"] == 100
    assert io.read(spark, "base").count() == 100


def test_streaming_compaction_is_incremental_reuses_large_dirs(
    spark, tmp_path_factory
):
    """Round-3 advice #3: stream compaction must not rewrite the whole
    postings table every compact_every batches. Dirs >= max_bytes are
    referenced untouched by the post-compaction manifest (mirrors
    test_incremental_compaction_reuses_large_dirs for the stream path),
    and reads still merge a term's rows across the surviving dirs."""
    import pyspark.sql.functions as F

    from spider_engine_spark.sources.tableio import TableIO
    from spider_engine_spark.streaming import ingest as ing

    root = str(tmp_path_factory.mktemp("stream_inc"))
    io = TableIO(root)

    def batch_df(b):
        return spark.range(50).select(
            (F.col("id") + 50 * b).alias("doc_id"),
            F.concat(F.lit("alpha beta w"), F.col("id") % 7).alias("text"),
        )

    # First compaction (batches 0,1) with everything undersized -> one dir.
    handler = ing.make_batch_handler(io, compact_every=2)
    handler(batch_df(0), 0)
    handler(batch_df(1), 1)
    dirs_after_first = io._entry("postings")["dirs"]
    assert len(dirs_after_first) == 1
    big = dirs_after_first[0]

    # Now treat that merged dir as large: subsequent compactions fold only
    # the new small appends and must reference `big` untouched.
    handler2 = ing.make_batch_handler(
        io, compact_every=2, compact_max_bytes=io._dir_bytes(big)
    )
    mtime_before = max(
        __import__("os").path.getmtime(p)
        for p in __import__("glob").glob(f"{big}/**", recursive=True)
    )
    handler2(batch_df(2), 2)
    handler2(batch_df(3), 3)  # compaction batch
    after = io._entry("postings")["dirs"]
    assert big in after  # large dir reused by reference, not rewritten
    assert len(after) == 2  # big + one merged dir for batches 2,3
    mtime_after = max(
        __import__("os").path.getmtime(p)
        for p in __import__("glob").glob(f"{big}/**", recursive=True)
    )
    assert mtime_after == mtime_before  # bytes genuinely untouched

    # reads merge across the surviving dirs: alpha df = 4 batches x 50
    alpha = (
        io.read(spark, "postings")
        .filter(F.col("term") == "alpha")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    assert alpha[0]["df"] == 200

    # replay of the compaction batch after the commit is a no-op
    versions_before = len(io._load_manifest("postings")["versions"])
    handler2(batch_df(3), 3)
    assert len(io._load_manifest("postings")["versions"]) == versions_before
