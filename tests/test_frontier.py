"""Crawl replay-equality + seen-set + resume oracles (north_rule).

The distributed CrawlJob and the pure-Python ReplaySimulator share
webmodel.py; per-step fetch sets, the final URL-seen set, frontier
contents and document span sequences must match exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spider_engine_spark import webmodel as wm
from spider_engine_spark.operators import seenset
from spider_engine_spark.operators.frontier import CrawlJob
from spider_engine_spark.simulator import ReplaySimulator
from spider_engine_spark.sources.tableio import TableIO

from conftest import fetched_urls_by_step, leaf_metrics, seen_urls

N_SEEDS = 20
N_STEPS = 3


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl"))
    seeds = wm.seed_urls(N_SEEDS)
    job = CrawlJob(spark, root, seeds=seeds, num_shards=4, salts=2)
    metrics = job.run(N_STEPS)
    sim = ReplaySimulator(seeds)
    sim_metrics = sim.run(N_STEPS)
    return job, sim, metrics, sim_metrics


def test_fetch_order_matches_simulator(crawl):
    job, sim, _, _ = crawl
    spark_fetched = fetched_urls_by_step(job)
    for step in range(N_STEPS):
        assert spark_fetched[step] == sim.fetched_by_step[step], (
            f"step {step} fetch set diverged"
        )


def test_seen_set_matches_simulator(crawl):
    job, sim, _, _ = crawl
    assert seen_urls(job) == sim.seen


def test_frontier_matches_simulator(crawl):
    job, sim, _, _ = crawl
    rows = job.io.read(job.spark, "frontier").collect()
    spark_frontier = {
        r["url"]: (r["depth"], r["priority"], r["budget"], r["discovered_step"])
        for r in rows
    }
    sim_frontier = {
        e.url: (e.depth, e.priority, e.budget, e.discovered_step)
        for e in sim.frontier.values()
    }
    assert spark_frontier == sim_frontier


def test_step_metrics_match(crawl):
    _, _, metrics, sim_metrics = crawl
    for m, s in zip(metrics, sim_metrics):
        assert m["fetched"] == s["fetched"]
        assert m["admitted"] == s["admitted"]
        assert m["robots_blocked"] == s["robots_blocked"]
        assert m["candidates"] == s["candidates"]


def test_span_sequence_invariant(crawl):
    """input_hint invariant: per-row span sequence (kind, text, media_ref,
    order) of distributed docs equals the reference fetch simulation."""
    job, sim, _, _ = crawl
    docs = job.io.read(job.spark, "docs").collect()
    assert len(docs) > 0
    for row in docs[:50]:
        ref = wm.make_doc(row["doc_id"])  # doc_id is the canonical url
        got = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in ref["spans"]
        ]
        assert got == want


def _false_negatives(seen, state) -> int:
    """Seen (shard, hash) keys the filter state does NOT report as
    maybe-seen through probe_hashes, the superstep's probe."""
    keys = seen.select("shard", "hash")
    maybe = seenset.probe_hashes(keys, state)
    return keys.join(maybe, ["shard", "hash"], "left_anti").count()


def test_no_cuckoo_false_negatives(crawl):
    """Every admitted URL must be maybe-seen on a later probe — i.e. the
    filter state actually contains the seen set (no false negatives)."""
    job, _, _, _ = crawl
    seen = job.io.read(job.spark, "seen")
    assert seen.count() > 0
    # the durable filter table is append-only dirty-shard rows; the
    # supported read path resolves latest-per-shard
    assert _false_negatives(seen, job._filter_state()) == 0


def test_postings_graft_indexed(crawl):
    job, sim, _, _ = crawl
    postings = job.postings()
    terms = {r["term"] for r in postings.select("term").distinct().collect()}
    # vocabulary words only (text spans are vocab words)
    assert terms and terms <= set(wm.VOCAB)
    # postings doc counts == docs containing the term (spot check one term)
    term = sorted(terms)[0]
    n_docs_with_term = sum(
        1
        for d in sim.docs.values()
        if any(
            term in s["text"].split() for s in d["spans"] if s["kind"] == "text"
        )
    )
    row = postings.filter(F.col("term") == term).collect()[0]
    assert row["df"] == n_docs_with_term


def test_resume_from_checkpoint(spark, tmp_path_factory):
    """Run 3 steps in one job; run 2+resume(1) in another root — identical
    final state (snapshot checkpoint resume, north_rule)."""
    seeds = wm.seed_urls(8)
    root_a = str(tmp_path_factory.mktemp("crawl_a"))
    job_a = CrawlJob(spark, root_a, seeds=seeds, num_shards=2, salts=2, index=False)
    job_a.run(3)

    root_b = str(tmp_path_factory.mktemp("crawl_b"))
    job_b1 = CrawlJob(spark, root_b, seeds=seeds, num_shards=2, salts=2, index=False)
    job_b1.run(2)
    del job_b1
    job_b2 = CrawlJob(
        spark, root_b, num_shards=2, salts=2, index=False, compact_every=2
    )  # resume (+ seen compaction fires at step boundaries)
    assert job_b2.step_no == 2
    job_b2.run(1)

    assert seen_urls(job_a) == seen_urls(job_b2)
    assert fetched_urls_by_step(job_a) == fetched_urls_by_step(job_b2)


def test_memory_mode_matches_durable(spark, tmp_path_factory):
    """checkpoint_every=3 (in-memory between snapshots) must produce
    bit-identical crawl results to checkpoint_every=1 (durable)."""
    seeds = wm.seed_urls(8)
    root_a = str(tmp_path_factory.mktemp("crawl_dur"))
    job_a = CrawlJob(spark, root_a, seeds=seeds, num_shards=2, salts=2)
    metrics_a = job_a.run(3)

    root_b = str(tmp_path_factory.mktemp("crawl_mem"))
    job_b = CrawlJob(
        spark, root_b, seeds=seeds, num_shards=2, salts=2, checkpoint_every=3
    )
    metrics_b = job_b.run(3)  # run() flushes at the end

    # the probe and the lineage counts are one code path in both modes
    keys = (
        "fetched", "links_extracted", "robots_blocked", "candidates",
        "maybe_seen", "cuckoo_false_positives", "admitted",
        "admitted_per_shard",
    )
    for ma, mb in zip(metrics_a, metrics_b, strict=True):
        assert {k: ma[k] for k in keys} == {k: mb[k] for k in keys}
    assert seen_urls(job_a) == seen_urls(job_b)
    assert fetched_urls_by_step(job_a) == fetched_urls_by_step(job_b)
    # the flush really committed snapshots (read back via a fresh job)
    job_c = CrawlJob(spark, root_b, num_shards=2, salts=2)
    assert job_c.step_no == 3
    assert seen_urls(job_c) == seen_urls(job_a)
    pa = {(r["term"], r["df"]) for r in job_a.postings().collect()}
    pb = {(r["term"], r["df"]) for r in job_c.postings().collect()}
    assert pa == pb


def test_hot_host_skew(spark, tmp_path_factory):
    """Pathological skew: 90% of links target host0. The salted two-phase
    selection must still respect host0's politeness budget exactly and
    match the replay simulator."""
    cfg = wm.WebConfig(hot_pct=90, num_hosts=10)
    seeds = wm.seed_urls(12, cfg)
    root = str(tmp_path_factory.mktemp("crawl_skew"))
    job = CrawlJob(
        spark, root, seeds=seeds, num_shards=2, salts=4, index=False, cfg=cfg
    )
    metrics = job.run(3)
    sim = ReplaySimulator(seeds, cfg)
    sim_metrics = sim.run(3)
    assert fetched_urls_by_step(job) == sim.fetched_by_step
    assert seen_urls(job) == sim.seen
    for m, s in zip(metrics, sim_metrics):
        assert m["fetched"] == s["fetched"]
    # the hot host never exceeds its per-step budget
    budget0 = wm.host_budget(wm.host_name(0), cfg)
    docs = job.io.read(spark, "docs").collect()
    per_step_host0: dict[int, int] = {}
    for r in docs:
        if wm.url_host(r["doc_id"]) == wm.host_name(0):
            per_step_host0[r["fetch_step"]] = (
                per_step_host0.get(r["fetch_step"], 0) + 1
            )
    assert per_step_host0 and all(
        v <= budget0 for v in per_step_host0.values()
    )


def test_filter_writes_only_dirty_shards(spark, tmp_path_factory):
    """Round-3 advice #4: the per-step filter commit must be proportional
    to TOUCHED shards, not the whole state. The durable filter table is
    append-only dirty-shard rows (step-tagged); the resolver returns one
    row per shard; compaction folds superseded rows."""
    root = str(tmp_path_factory.mktemp("crawl_dirty"))
    seeds = wm.seed_urls(6)
    job = CrawlJob(
        spark, root, seeds=seeds, num_shards=8, salts=2, index=False,
        compact_every=100,  # keep every per-step dir visible
    )
    job.run(2)
    io = job.io
    manifest = io._load_manifest("filter")
    versions = manifest["versions"]
    # bootstrap + one append per non-empty step: appends, not overwrites
    assert len(versions[-1]["dirs"]) >= 2
    # each post-bootstrap dir holds only the shards its step touched
    per_dir_rows = {
        d: spark.read.parquet(d) for d in versions[-1]["dirs"]
    }
    admitted_shards = [
        m.get("admitted_per_shard", {})
        for m in [io.meta("frontier").get("metrics", {})]
    ]
    for d, df in list(per_dir_rows.items())[1:]:
        rows = df.collect()
        steps = {r["step"] for r in rows}
        assert len(steps) == 1  # one step per appended dir
        # dirty rows only: every shard in this dir admitted rows somewhere
        assert len(rows) <= job.num_shards
    # the resolver yields exactly one row per shard that ever admitted
    state = job._filter_state()
    per_shard = state.groupBy("shard").count().collect()
    assert all(r["count"] == 1 for r in per_shard)
    # and dedup still matches the simulator exactly
    sim = ReplaySimulator(seeds)
    sim.run(2)
    assert seen_urls(job) == sim.seen

    # compaction folds superseded rows but preserves the resolved state
    before = {
        (r["shard"], bytes(r["data"])) for r in state.collect()
    }
    v = io.compact_small(
        spark, "filter", max_bytes=1 << 30,
        transform=__import__(
            "spider_engine_spark.operators.seenset", fromlist=["latest_state"]
        ).latest_state,
    )
    assert v is not None
    after_df = job._filter_state()
    after = {(r["shard"], bytes(r["data"])) for r in after_df.collect()}
    assert after == before
    # post-compaction: at most one row per shard at rest
    total_rows = sum(
        spark.read.parquet(d).count()
        for d in io._load_manifest("filter")["versions"][-1]["dirs"]
    )
    assert total_rows == len(before)


def test_attr_law_migration_on_resume(spark, tmp_path_factory):
    """A crawl root whose frontier meta names another attribute law (or
    none) stores priority/budget a resume would mix with this code's:
    CrawlJob raises ValueError naming attr_law and leaves the root as
    it was."""
    root = str(tmp_path_factory.mktemp("lawmig"))
    job = CrawlJob(
        spark, root, seeds=wm.seed_urls(8), num_shards=2, salts=2, index=False
    )
    job.run(1)
    io = job.io
    fmeta = dict(io.meta("frontier"))
    for law in (None, "blake2b"):
        if law is None:
            fmeta.pop("attr_law")
        else:
            fmeta["attr_law"] = law
        io.commit_meta("frontier", fmeta)
        version = io._load_manifest("frontier")["versions"][-1]["version"]
        with pytest.raises(ValueError, match="attr_law"):
            CrawlJob(spark, root, num_shards=2, salts=2, index=False)
        assert io._load_manifest("frontier")["versions"][-1]["version"] == version


def test_resume_restores_sharding_layout(spark, tmp_path_factory):
    """Round-4 verdict #1: the sharding parameters are LAYOUT — persisted
    filter/seen state is partitioned mod num_shards — so a resume must
    restore them from the frontier meta, not trust constructor defaults.
    Pre-fix, `CrawlJob(spark, root)` after a num_shards=4 bootstrap would
    probe `pmod(hash, 8)` against mod-4 state: cuckoo false negatives,
    re-admitted duplicates, replay divergence."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("layout"))
    job = CrawlJob(
        spark, root, seeds=seeds, num_shards=4,
        capacity_per_shard=1 << 12, salts=2, index=False,
    )
    job.run(2)
    del job

    # resume with NO layout args (run_crawl.py's default path)
    job2 = CrawlJob(spark, root, salts=2, index=False)
    assert job2.num_shards == 4
    assert job2.capacity == 1 << 12
    job2.run(1)

    # no re-admitted duplicates: seen URLs are unique
    seen = job2.io.read(spark, "seen")
    assert seen.count() == seen.select("url").distinct().count()
    # and the continued crawl matches the simulator exactly
    sim = ReplaySimulator(seeds)
    sim.run(3)
    assert seen_urls(job2) == sim.seen
    assert fetched_urls_by_step(job2) == sim.fetched_by_step


def test_resume_rejects_conflicting_layout(spark, tmp_path_factory):
    """A conflicting explicit num_shards/capacity_per_shard on resume is
    an error (re-sharding persisted state needs a migration job); the
    SAME explicit values round-trip harmlessly."""
    seeds = wm.seed_urls(4)
    root = str(tmp_path_factory.mktemp("layoutrej"))
    CrawlJob(
        spark, root, seeds=seeds, num_shards=4,
        capacity_per_shard=1 << 12, salts=2, index=False,
    ).run(1)

    with pytest.raises(ValueError, match="num_shards"):
        CrawlJob(spark, root, num_shards=8, salts=2, index=False)
    with pytest.raises(ValueError, match="capacity_per_shard"):
        CrawlJob(
            spark, root, capacity_per_shard=1 << 13, salts=2, index=False
        )
    # matching explicit values are fine (the pre-fix test idiom)
    job = CrawlJob(
        spark, root, num_shards=4, capacity_per_shard=1 << 12,
        salts=2, index=False,
    )
    assert job.num_shards == 4 and job.capacity == 1 << 12


def _scan_metric_sums(df) -> dict:
    """numFiles/numPartitions summed over the executed scan leaves — the
    union-of-dirs read has one leaf per snapshot dir."""
    leaves = leaf_metrics(df)
    return {
        k: sum(m.get(k, 0) for m in leaves)
        for k in ("numFiles", "numPartitions")
    }


def test_docs_read_prunes_to_one_fetch_step(spark, tmp_path_factory):
    """Round-4 verdict #4: the durable docs table is hive-partitioned by
    fetch_step, so a superstep's docs read scans ONLY that step's files
    (EXECUTED metrics, not plan text) instead of filtering a scan of the
    whole append chain."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("docpart"))
    job = CrawlJob(
        spark, root, seeds=seeds, num_shards=2, salts=2, index=False,
        checkpoint_every=1,
    )
    job.run(3)
    io = job.io

    full = io.read(spark, "docs").select("doc_id", "fetch_step")
    assert len(full.collect()) > 0
    full_m = _scan_metric_sums(full)

    one = (
        io.read(spark, "docs")
        .filter(F.col("fetch_step") == 1)
        .select("doc_id", "fetch_step")
    )
    assert len(one.collect()) > 0
    one_m = _scan_metric_sums(one)

    # 3 steps committed -> 3 partition dirs total; the sliced read
    # touched exactly one of them, and strictly fewer files
    assert full_m["numPartitions"] == 3, (full_m, one_m)
    assert one_m["numPartitions"] == 1, (full_m, one_m)
    assert 0 < one_m["numFiles"] < full_m["numFiles"], (full_m, one_m)

    # the partitioned layout keeps replay equality (column round-trips
    # through the hive dir)
    sim = ReplaySimulator(seeds)
    sim.run(3)
    assert fetched_urls_by_step(job) == sim.fetched_by_step


def test_resume_without_stored_layout_raises(spark, tmp_path_factory):
    """Every frontier commit stamps the seen-set layout, so a root whose
    frontier meta lacks num_shards was not written by this code: resume
    refuses it with an error naming the key rather than guessing a shard
    count that could probe the wrong filter shard."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("nolayout"))
    CrawlJob(
        spark, root, seeds=seeds, num_shards=4,
        capacity_per_shard=1 << 12, salts=2, index=False,
    ).run(1)
    io = TableIO(root)
    meta = dict(io.meta("frontier"))
    meta.pop("num_shards")
    io.commit_meta("frontier", meta)

    with pytest.raises(ValueError, match="num_shards"):
        CrawlJob(spark, root, salts=2, index=False)
    with pytest.raises(ValueError, match="num_shards"):
        CrawlJob(spark, root, num_shards=4, salts=2, index=False)


def test_migrate_layout_reshards_and_resumes(spark, tmp_path_factory):
    """Round-5: the migration job the resume-conflict error promises.
    Re-shard 3 -> 8 shards (and grow capacity): the rebuilt seen/filter
    layout must restore on a no-args resume, reject the OLD explicit
    layout, keep the no-false-negatives invariant, and the continued
    crawl must still replay the simulator exactly."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("migrate"))
    CrawlJob(
        spark, root, seeds=seeds, num_shards=3,
        capacity_per_shard=1 << 12, salts=2, index=False,
    ).run(2)

    job = CrawlJob.migrate_layout(
        spark, root, num_shards=8, capacity_per_shard=1 << 13
    )
    assert (job.num_shards, job.capacity) == (8, 1 << 13)
    assert job.layout_epoch == 1

    # a second migrate call with the same (now-stored) layout is a no-op
    again = CrawlJob.migrate_layout(spark, root)
    assert again.layout_epoch == 1

    # no-args resume restores the NEW layout; the old one now conflicts
    job2 = CrawlJob(spark, root, salts=2, index=False)
    assert (job2.num_shards, job2.capacity) == (8, 1 << 13)
    with pytest.raises(ValueError, match="num_shards"):
        CrawlJob(spark, root, num_shards=3, salts=2, index=False)

    # tables really re-sharded mod 8, URL set intact and unique
    seen = job2.io.read(spark, "seen")
    assert (
        seen.filter(
            F.col("shard") != F.pmod(F.col("hash"), F.lit(8)).cast("int")
        ).count()
        == 0
    )
    assert seen.count() == seen.select("url").distinct().count()
    # rebuilt filters keep the no-false-negatives invariant
    assert _false_negatives(seen, job2._filter_state()) == 0

    # the continued crawl replays the simulator exactly across the
    # migration boundary
    job2.run(1)
    sim = ReplaySimulator(seeds)
    sim.run(3)
    assert seen_urls(job2) == sim.seen
    assert fetched_urls_by_step(job2) == sim.fetched_by_step


def test_migrate_layout_crash_rolls_back(spark, tmp_path_factory, monkeypatch):
    """A migration that crashes BEFORE its frontier commit point leaves
    higher-layout-epoch seen/filter snapshots; the next resume must
    revert them (epoch-orphan rule) and continue on the OLD layout with
    exact replay; a retried migration then succeeds."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("migcrash"))
    CrawlJob(
        spark, root, seeds=seeds, num_shards=3,
        capacity_per_shard=1 << 12, salts=2, index=False,
    ).run(2)

    def boom(self, name, meta):
        raise RuntimeError("crash before frontier commit")

    monkeypatch.setattr(TableIO, "commit_meta", boom)
    with pytest.raises(RuntimeError, match="crash before frontier"):
        CrawlJob.migrate_layout(spark, root, num_shards=8)
    monkeypatch.undo()

    # the re-sharded snapshots are epoch-orphans: resume reverts them
    job = CrawlJob(spark, root, salts=2, index=False)
    assert job.num_shards == 3 and job.layout_epoch == 0
    seen = job.io.read(spark, "seen")
    assert (
        seen.filter(
            F.col("shard") != F.pmod(F.col("hash"), F.lit(3)).cast("int")
        ).count()
        == 0
    )
    job.run(1)
    sim = ReplaySimulator(seeds)
    sim.run(3)
    assert seen_urls(job) == sim.seen
    assert fetched_urls_by_step(job) == sim.fetched_by_step

    # retry succeeds and the crawl continues on the new layout
    job2 = CrawlJob.migrate_layout(spark, root, num_shards=8)
    assert job2.num_shards == 8 and job2.layout_epoch == 1
    job3 = CrawlJob(spark, root, salts=2, index=False)
    job3.run(1)
    sim.run(1)
    assert seen_urls(job3) == sim.seen
    assert fetched_urls_by_step(job3) == sim.fetched_by_step


def test_migrate_layout_rejects_overfull_shard(spark, tmp_path_factory):
    """Migrating to a layout whose worst shard would exceed the design
    capacity is rejected up front with a sizing message (not a mid-UDF
    cuckoo overflow)."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("migfull"))
    CrawlJob(
        spark, root, seeds=seeds, num_shards=3,
        capacity_per_shard=1 << 12, salts=2, index=False,
    ).run(2)
    with pytest.raises(ValueError, match="capacity"):
        CrawlJob.migrate_layout(
            spark, root, num_shards=1, capacity_per_shard=8
        )


def test_seenset_insert_sorted_is_order_independent(spark):
    """insert sorts each shard's hashes, so the filter bytes are a
    function of the state and the hash SET, not the DataFrame row order
    — the property the re-shard migration's byte-reproducibility and a
    replayed superstep rest on. Only shards that received rows come
    back, also over a non-empty state."""
    def hashes(lo, hi):
        return [
            (i % 4, (i * 0x9E3779B97F4A7C15) % (1 << 63)) for i in range(lo, hi)
        ]

    df = spark.createDataFrame(hashes(0, 500), "shard int, hash long")

    def state_bytes(d, state):
        out = seenset.insert(d, state, 1 << 10)
        return {r["shard"]: bytes(r["data"]) for r in out.collect()}

    def orders(d):
        return (
            d.orderBy(F.col("hash").asc()).repartition(7),
            d.orderBy(F.col("hash").desc()).coalesce(1),
        )

    empty = seenset.empty_state(spark)
    a, b = (state_bytes(d, empty) for d in orders(df))
    assert a == b and set(a) == {0, 1, 2, 3}

    # a non-empty state; the new rows touch shards 1 and 3 only
    state = seenset.insert(df, empty, 1 << 10)
    more = spark.createDataFrame(
        [r for r in hashes(500, 900) if r[0] in (1, 3)], "shard int, hash long"
    )
    a2, b2 = (state_bytes(d, state) for d in orders(more))
    assert set(a2) == {1, 3}
    assert a2 == b2
    assert a2[1] != a[1] and a2[3] != a[3]


def test_migrate_layout_capacity_only_skips_seen_rewrite(spark, tmp_path_factory):
    """A capacity-only migration on a stamped root rebuilds ONLY the
    filters: the seen table (whose shard column is unchanged) must not
    be rewritten — at design scale that would be ~10^10 rows of pure
    write amplification."""
    seeds = wm.seed_urls(8)
    root = str(tmp_path_factory.mktemp("migcap"))
    CrawlJob(
        spark, root, seeds=seeds, num_shards=3,
        capacity_per_shard=1 << 12, salts=2, index=False,
    ).run(2)
    io = TableIO(root)
    seen_versions_before = io.versions("seen")

    job = CrawlJob.migrate_layout(spark, root, capacity_per_shard=1 << 13)
    assert (job.num_shards, job.capacity) == (3, 1 << 13)
    assert job.layout_epoch == 1
    assert io.versions("seen") == seen_versions_before  # untouched
    # filters really rebuilt at the new capacity (bigger tables)
    nb = {
        r["nbuckets"]
        for r in io.read(spark, "filter").select("nbuckets").collect()
    }
    from spider_engine_spark.operators.cuckoo import CuckooFilter
    assert nb == {CuckooFilter(1 << 13).nbuckets}
    # no false negatives against the untouched seen table
    assert _false_negatives(io.read(spark, "seen"), job._filter_state()) == 0
    # crawl continues exactly
    job.index = False
    job.run(1)
    sim = ReplaySimulator(seeds)
    sim.run(3)
    assert seen_urls(job) == sim.seen


def test_run_crawl_migration_flag_guard():
    """The CLI migration guard rejects every flag a --migrate-* run
    would silently ignore — including store_true and non-default-valued
    flags (round-5 review: --checkpoint-every/--no-index/--no-flush
    slipped through while --capacity errored)."""
    import argparse

    from run_crawl import migration_ignored_flags

    def ns(**kw):
        base = dict(
            shards=None, capacity=None, hosts=None, words=None, vocab=None,
            no_flush=False, no_index=False, steps=5,
            seeds=100, salts=4, checkpoint_every=1,
        )
        base.update(kw)
        return argparse.Namespace(**base)

    assert migration_ignored_flags(ns()) == []
    assert migration_ignored_flags(ns(capacity=1 << 12)) == ["--capacity"]
    assert migration_ignored_flags(ns(no_flush=True)) == ["--no-flush"]
    assert migration_ignored_flags(ns(no_index=True)) == ["--no-index"]
    assert migration_ignored_flags(ns(steps=3)) == ["--steps"]
    assert migration_ignored_flags(ns(seeds=500)) == ["--seeds"]
    assert migration_ignored_flags(ns(salts=8)) == ["--salts"]
    assert migration_ignored_flags(ns(checkpoint_every=4)) == [
        "--checkpoint-every"
    ]
    got = migration_ignored_flags(ns(shards=16, vocab=100, no_index=True))
    assert got == ["--shards", "--vocab", "--no-index"]


def test_all_duplicate_superstep_skips_empty_appends(spark, tmp_path_factory):
    """A superstep where every discovered URL is already seen admits
    ZERO rows. The durable path must then skip the seen/filter appends:
    an empty hive-partitioned write commits a parquet-less dir, and the
    skipped step must stay invisible to recovery (frontier snapshot is
    the commit point). Forced with a 1-host, 2-path web where the URL
    space saturates after the first step."""
    cfg = wm.WebConfig(num_hosts=1, paths_per_host=2)
    seeds = wm.seed_urls(3, cfg)
    root = str(tmp_path_factory.mktemp("crawl_alldup"))
    job = CrawlJob(
        spark, root, seeds=seeds, num_shards=2, salts=2, index=False,
        cfg=cfg, compact_every=100,
    )
    metrics = job.run(4)
    empty_steps = [m for m in metrics if m.get("admitted") == 0]
    assert empty_steps, (
        "fixture no longer saturates — no all-duplicate superstep; "
        f"metrics={metrics}"
    )
    # every seen/filter version belongs to a step that admitted rows
    admitting = {m["step"] for m in metrics if m.get("admitted", 0) > 0}
    for t in ("seen", "filter"):
        for v in job.io._load_manifest(t)["versions"]:
            step = v["meta"].get("step")
            if step is not None and step > 1:
                assert step in admitting, (t, v["meta"])
    # the crawl still replays exactly and resumes cleanly
    sim = ReplaySimulator(seeds, cfg)
    sim.run(4)
    assert seen_urls(job) == sim.seen
    job2 = CrawlJob(spark, root, num_shards=2, salts=2, index=False, cfg=cfg)
    assert job2.step_no == job.step_no
    assert seen_urls(job2) == sim.seen
