"""Streaming ingest + multimodal plumbing tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from spider_engine_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    synth_media,
    thumbnail,
)
from spider_engine_spark.operators.postings import merge_postings, query_term
from spider_engine_spark.sources.tableio import TableIO
from spider_engine_spark.streaming.ingest import (
    stream_index_docs,
    streaming_dedup,
    windowed_event_counts,
)


def test_stream_index_docs(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    # batch 1
    spark.createDataFrame(
        [(0, "spark index stream"), (1, "stream of tokens")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    q = stream_index_docs(spark, src, state, ckpt)
    q.awaitTermination(120)
    # batch 2 (new files -> new micro-batch)
    spark.createDataFrame(
        [(2, "more stream data")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    q2 = stream_index_docs(spark, src, state, ckpt)
    q2.awaitTermination(120)

    io = TableIO(state)
    assert io.read(spark, "base").count() == 3
    postings = merge_postings(io.read(spark, "postings"))
    got = sorted(
        r.doc_id for r in query_term(postings, "text", "stream").collect()
    )
    assert got == [0, 1, 2]  # across both micro-batches


def test_windowed_event_counts_semantics(spark, sf_dir="/root/testdata/sf0.001"):
    # the streaming aggregation evaluated on a static frame must equal the
    # plain groupBy (same logic), establishing the batch/stream parity
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    streamed = windowed_event_counts(events).orderBy(
        "window_start", "event_type"
    )
    rows = streamed.collect()
    assert rows, "windowed counts empty"
    plain = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ).count().collect()
    )
    assert sum(r["n_events"] for r in rows) == sum(r["count"] for r in plain)


def test_streaming_dedup_semantics(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:05:00")],
        "event_id long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = streaming_dedup(df).collect()
    assert len(out) == 2


@pytest.fixture(scope="module")
def media(spark):
    base = spark.range(40).withColumnRenamed("id", "doc_id")
    return synth_media(base).cache()


def test_synth_media_schema_and_determinism(media, spark):
    rows = media.orderBy("doc_id").collect()
    assert len(rows) == 40
    r = rows[0]
    assert isinstance(bytes(r["media"]), bytes) and len(bytes(r["media"])) == r["meta"]["n_bytes"]
    assert r["meta"]["kind"] in ("image", "audio", "video")
    # deterministic across re-generation
    again = synth_media(
        spark.range(40).withColumnRenamed("id", "doc_id")
    ).orderBy("doc_id").collect()
    assert bytes(again[0]["media"]) == bytes(r["media"])


def test_decode_media_features(media):
    feats = decode_media(media, dim=8).collect()
    assert len(feats) == 40
    for r in feats[:5]:
        assert r["decode_ok"] and len(r["feature"]) == 8
        norm = sum(x * x for x in r["feature"])
        assert abs(norm - 1.0) < 1e-3  # unit-norm fake embedding


def test_decode_requires_codecs_raises(media):
    with pytest.raises(NotImplementedError):
        decode_media(media, require_codecs=True)


def test_thumbnail_and_frame_sample(media):
    th = thumbnail(media, max_side=8).collect()
    assert all(r["thumb_w"] <= 8 and r["thumb_h"] <= 8 for r in th)
    frames = frame_sample(media, every_ms=1000)
    vids = media.filter(F.col("meta.kind") == "video").count()
    if vids:
        got = frames.groupBy("doc_id").count().count()
        assert got == vids
        assert frames.filter(F.col("ts_ms") % 1000 != 0).count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Event-time semantics end-to-end: a row arriving in a later
    micro-batch with event time older than the watermark horizon is
    dropped from the append-mode windowed aggregation."""
    from spider_engine_spark.streaming.ingest import windowed_event_counts

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ev_ckpt")
    collected = []

    def mk(rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop(
            "ts_s"
        ).write.mode("append").parquet(src)

    def run_batch():
        stream = spark.readStream.schema(
            "event_id long, event_type string, value double, ts timestamp"
        ).parquet(src)
        out = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: collected.extend(
                    (r["window_start"], r["event_type"], r["n_events"])
                    for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: events up to 12:00 -> watermark advances to ~11:00
    mk([(1, "2024-01-01 09:10:00", "click", 1.0),
        (2, "2024-01-01 12:00:00", "click", 1.0)])
    run_batch()
    # batch 2: one VERY late event (08:30, behind the 11:00 watermark —
    # must be dropped) and one fresh event closing the 12:00 window
    mk([(3, "2024-01-01 08:30:00", "click", 1.0),
        (4, "2024-01-01 14:00:00", "click", 1.0)])
    run_batch()
    counts = {(str(w), t): n for (w, t, n) in collected}
    # the 09:00 window was emitted with ONLY event 1 (late row dropped)
    assert counts.get(("2024-01-01 09:00:00", "click")) == 1
    assert ("2024-01-01 08:00:00", "click") not in counts


def test_stateful_seen_flag_state_is_constant_size(spark):
    """Round-3 advice #5: the scalable dedup's per-shard state must be
    the constant-size cuckoo bytes, not an ever-growing hash list.
    Drives the real applyInPandasWithState body with a fake state handle
    across 4 micro-batches and asserts the state never grows."""
    import pandas as pd

    from spider_engine_spark.streaming.stateful import _flag_fn_factory

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, tup):
            self.exists = True
            self.get = tup

    fn = _flag_fn_factory(capacity_per_shard=1 << 12)
    state = FakeState()
    sizes = []
    all_flags = {}
    for b in range(4):
        # overlapping batches: urls b*50 .. b*50+99 (50% cross-batch dups)
        urls = [f"http://h/{i}" for i in range(b * 50, b * 50 + 100)]
        pdf = pd.DataFrame(
            {"url": urls, "hash": [hash(u) & 0x7FFFFFFFFFFFFFFF for u in urls]}
        )
        out = list(fn((0,), iter([pdf]), state))
        sizes.append(len(state.get[0]))
        for _, r in pd.concat(out).iterrows():
            all_flags.setdefault(r["url"], []).append(bool(r["maybe_seen"]))
    assert len(set(sizes)) == 1  # constant-size state across batches
    # no false negatives: every re-occurrence of an inserted url is maybe
    for url, flags in all_flags.items():
        for later in flags[1:]:
            assert later, f"{url} reappeared without maybe_seen"


def test_stream_seen_dedup_scalable_exact(spark, tmp_path):
    """The flag operator + FP-audit handler together are EXACT first-seen
    dedup WITHIN and ACROSS micro-batches (state-store backed): after
    every batch the durable seen table holds each URL seen so far
    exactly once."""
    from spider_engine_spark.sources.tableio import TableIO
    from spider_engine_spark.streaming.stateful import (
        stream_seen_dedup_scalable,
    )

    src = str(tmp_path / "urls")
    ckpt = str(tmp_path / "ckpt_scal")
    root = str(tmp_path / "state")

    def add_and_run(rows):
        spark.createDataFrame(
            [(u,) for u in rows], "url string"
        ).write.mode("append").parquet(src)
        q = stream_seen_dedup_scalable(
            spark, src, root, ckpt, n_shards=2, capacity_per_shard=1 << 12
        )
        q.awaitTermination(120)

    def seen_urls():
        seen = TableIO(root).read(spark, "seen")
        return sorted(r["url"] for r in seen.select("url").collect())

    add_and_run(["http://a/1", "http://a/2", "http://a/1"])  # in-batch dup
    assert seen_urls() == ["http://a/1", "http://a/2"]
    add_and_run(["http://a/2", "http://b/9"])  # cross-batch dup + new
    assert seen_urls() == ["http://a/1", "http://a/2", "http://b/9"]
    add_and_run(["http://b/9", "http://c/7", "http://a/1"])  # more dups
    # exactly the distinct set, each once
    assert seen_urls() == [
        "http://a/1", "http://a/2", "http://b/9", "http://c/7"
    ]


def test_stateful_seen_flag_dedups_across_arrow_chunks(spark):
    """A micro-batch larger than arrow.maxRecordsPerBatch arrives as
    SEVERAL pandas chunks; a hash emitted from an earlier chunk must not
    re-emit from a later one (it would come back maybe_seen and the FP
    audit — which only sees previous batches — would admit it twice)."""
    import pandas as pd

    from spider_engine_spark.streaming.stateful import _flag_fn_factory

    class FakeState:
        exists = False
        get = None

        def update(self, tup):
            self.exists = True
            self.get = tup

    fn = _flag_fn_factory(capacity_per_shard=1 << 10)
    chunk1 = pd.DataFrame({"url": ["http://a/1", "http://a/2"],
                           "hash": [11, 22]})
    chunk2 = pd.DataFrame({"url": ["http://a/1", "http://a/3"],
                           "hash": [11, 33]})  # 11 repeats across chunks
    out = pd.concat(list(fn((0,), iter([chunk1, chunk2]), FakeState())))
    assert sorted(out["hash"]) == [11, 22, 33]  # 11 exactly once
    assert not out["maybe_seen"].any()  # all first-seen in this batch


def test_ingest_stale_replay_at_boundary_cannot_regress_meta(
    spark, tmp_path
):
    """The compact_if_due stale-replay guard, on the ingest handler: a
    replayed old batch id landing on a compaction boundary must not
    regress the tables' meta batch_id — that would re-open the append
    guards and duplicate base/postings rows for every later batch."""
    from spider_engine_spark.streaming.ingest import make_batch_handler

    io = TableIO(str(tmp_path / "state"))
    handler = make_batch_handler(io, compact_every=4)

    def batch(i):
        return spark.createDataFrame(
            [(i * 10 + j, f"tokens of doc {i} {j}") for j in range(2)],
            "doc_id long, text string",
        )

    for bid in range(5):  # boundary at 3 compacts; batch 4 clears flag
        handler(batch(bid), bid)
    n_base = io.read(spark, "base").count()
    # content-level baseline: raw postings row counts legitimately drop
    # when a replayed boundary compaction merges same-term rows
    n_merged = merge_postings(io.read(spark, "postings")).count()
    assert int(io.meta("base")["batch_id"]) == 4
    handler(batch(3), 3)  # stale replay ON a compaction boundary
    assert int(io.meta("postings")["batch_id"]) == 4, (
        "boundary compaction regressed the postings meta batch_id"
    )
    handler(batch(4), 4)  # later replay must stay a no-op
    assert io.read(spark, "base").count() == n_base
    assert merge_postings(io.read(spark, "postings")).count() == n_merged
