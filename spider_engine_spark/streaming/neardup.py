"""Incremental (streaming) near-duplicate detection.

The batch near-dup operators (operators/dedup.py) see the whole corpus
at once; a crawl ingests documents continuously.  This module keeps a
persisted MinHash band-bucket table through TableIO and flags every
arriving document against EVERYTHING ingested before it plus its own
micro-batch — the streaming form of minhash_lsh_pairs, the same shape
the reference's mem-partition/flush tiering gives its inverted index
(core/table/table.go:503-508: new docs join an accumulating persisted
structure batch by batch).

Completeness invariant (pinned by tests): the union over micro-batches
of emitted candidate pairs equals the batch minhash_lsh_pairs output on
the stream's FIRST ARRIVALS, for ANY split of documents into batches
and any arrival order — a pair lands in a common (band, bucket) whether
its members arrive together (in-batch self-join, the SAME
bucket_self_pairs law the batch path uses) or apart (probe join against
the persisted buckets), and a cross-batch pair is emitted exactly once:
in the batch of its later-arriving member.  A re-delivered key
(re-crawl of a known doc_id) is ignored — first-arrival-wins, the
reference's duplicate-PK law (core/table/table.go:451-454) — so state
rows and pairs never duplicate.  Within one micro-batch, duplicate
keys keep exactly one row deterministically (min by content hash, the
catalog's dup-PK tiebreak) — otherwise minhash_signatures' groupBy
would silently min-merge two texts into a hybrid signature matching
neither.

100 TB shape: per micro-batch the bucket table is read twice — the
first-arrival anti-join on its distinct keys and the (band, bucket)
probe equi-join — i.e. two corpus-sized shuffles of ~24-byte rows that
never hold text, each against a batch-sized side (maintain the key set
as its own corpus x 1-row table if the 2x read matters at your scale).
Both state tables are compacted incrementally every compact_every
batches (TableIO.compact_if_due — undersized dirs only, the shared
ingest.py boundary law), so a long-running stream's probe never unions
one parquet dir per historical batch.  Skewed buckets (boilerplate)
are the same AQE-handled hazard as the batch path; a
cap_bucket_size-style guard can be applied to the persisted side by
the same frequency-cap technique if needed.

Exactness note: this emits LSH CANDIDATE pairs (the same candidate law
as the batch path); callers wanting verified near-dups run the cheap
exact jaccard_verify on the tiny candidate set afterwards — see the
streaming_neardup_pairs driver query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_engine_spark.operators.dedup import (
    band_buckets,
    bucket_self_pairs,
    minhash_signatures,
)
from spider_engine_spark.pins import pin, scope
from spider_engine_spark.sources.tableio import TableIO


def make_neardup_batch_handler(
    io: TableIO,
    key: str = "doc_id",
    content: str = "text",
    k: int = 16,
    bands: int = 8,
    compact_every: int = 8,
    compact_max_bytes: int = 64 << 20,
):
    """The foreachBatch body, exposed (like ingest.make_batch_handler)
    so crash-replay tests drive the REAL handler at commit boundaries.

    Tables: `pairs` (a, b) — candidate pairs, later-arrival orientation
    normalized to a < b; `buckets` (key, band, bucket) — the persisted
    LSH state each future batch probes.

    Idempotence / crash-safety: per-table batch_id guards (the
    ingest.py protocol).  The prior-bucket snapshot is resolved before
    either write and `pairs` commits BEFORE `buckets`, so a crash
    between the two appends replays into: pairs skipped (already
    committed), buckets recomputed deterministically from the same
    first-arrival batch and appended — no duplicate pairs, no missed
    probes.  A replay of a fully-committed batch sees its own keys in
    `prior`, filters the batch to empty, and both guards skip anyway.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        def done(tbl: str) -> int:
            return (
                int(io.meta(tbl).get("batch_id", -1)) if io.exists(tbl) else -1
            )

        spark = batch_df.sparkSession
        # in-batch duplicate keys: keep one row deterministically (min
        # by content hash — the catalog's dup-PK tiebreak law) so a
        # re-crawl landing twice in ONE micro-batch cannot min-merge
        # two texts into a hybrid signature
        batch_df = (
            batch_df.select(key, content)
            .groupBy(key)
            .agg(F.min_by(content, F.md5(F.col(content))).alias(content))
        )
        prior = io.read(spark, "buckets") if io.exists("buckets") else None
        if prior is not None:
            # first-arrival-wins (reference duplicate-PK law): a
            # re-delivered doc_id neither re-buckets nor re-emits pairs
            batch_df = batch_df.join(
                prior.select(key).distinct(), key, "left_anti"
            )
        sigs = minhash_signatures(batch_df, key, content, k=k)
        # reused by the in-batch self-join, the cross-batch probe and
        # the state append — cached (not a snapshot) for this batch only
        with scope():
            bb = pin(band_buckets(sigs, key, bands))
            if batch_id > done("pairs"):
                pairs = bucket_self_pairs(bb, key)
                if prior is not None:
                    x, p = bb.alias("x"), prior.alias("p")
                    cross = x.join(
                        p,
                        (F.col("x.band") == F.col("p.band"))
                        & (F.col("x.bucket") == F.col("p.bucket"))
                        & (F.col(f"x.{key}") != F.col(f"p.{key}")),
                    ).select(
                        F.least(
                            F.col(f"x.{key}"), F.col(f"p.{key}")
                        ).alias("a"),
                        F.greatest(
                            F.col(f"x.{key}"), F.col(f"p.{key}")
                        ).alias("b"),
                    ).distinct()
                    # no distinct over the union: each leg is distinct
                    # and they cannot collide (an in-batch pair has
                    # BOTH members in this batch; a cross pair exactly
                    # one) — a union-wide distinct would re-shuffle the
                    # dominant candidate set a second time
                    pairs = pairs.unionByName(cross)
                io.write(
                    "pairs",
                    pairs,
                    mode="append",
                    meta={"batch_id": batch_id},
                )
            if batch_id > done("buckets"):
                io.write(
                    "buckets", bb, mode="append", meta={"batch_id": batch_id}
                )
        # incremental compaction (the shared ingest.py boundary law,
        # incl. the stale-replay meta guard): without it a long-running
        # stream's probe unions one parquet dir per historical batch —
        # O(#batches) listing/plan cost per probe
        for tbl in ("pairs", "buckets"):
            io.compact_if_due(
                spark, tbl, batch_id, compact_every,
                max_bytes=compact_max_bytes,
            )

    return handle


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    key: str = "doc_id",
    content: str = "text",
    k: int = 16,
    bands: int = 8,
    max_files_per_trigger: int = 1,
    compact_every: int = 8,
    compact_max_bytes: int = 64 << 20,
):
    """Stream documents from parquet files into the incremental near-dup
    state; returns the StreamingQuery (availableNow — drain-and-stop).

    max_files_per_trigger=1 makes every input file its own micro-batch
    (availableNow honors admission control), so a multi-file input
    exercises real cross-batch probes."""
    io = TableIO(state_root)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            make_neardup_batch_handler(
                io,
                key,
                content,
                k=k,
                bands=bands,
                compact_every=compact_every,
                compact_max_bytes=compact_max_bytes,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
