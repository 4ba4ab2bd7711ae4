"""Custom stateful streaming operator: incremental URL-seen dedup.

The batch crawl keeps its seen-set in sharded cuckoo filters
(operators/seenset.py); this is the streaming form. The durable seen
table ends up holding only first-seen URLs — the streaming analogue of
the frontier's admit step (and of the reference's PK-duplicate
rejection, table.go:451-454), with state-store-backed exactly-once
semantics across micro-batches.

- `stateful_seen_flag`: a keyed `applyInPandasWithState` operator whose
  per-shard state is the shard's CONSTANT-SIZE cuckoo table bytes. It
  emits every batch-first row with a `maybe_seen` flag.
- `make_seen_batch_handler`: the foreachBatch side. It admits
  definitely-new rows outright and resolves maybe-seen rows exactly
  against the durable seen table (FP audit).
- `stream_seen_dedup_scalable`: the two wired into one query.

Exactness across batches relies on a structural cuckoo property: a false
positive is a fingerprint match in one of the probe's two legal buckets,
and the colliding entry's bucket pair {b, b ^ h(fp)} is THE SAME pair
(equal fingerprints pair identically), so evictions never move it out of
reach — a hash once flagged maybe stays maybe, and the exact table
settles it every time. No deletions, so the property holds for the
filter's lifetime.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spider_engine_spark.operators.seenset import shard_expr
from spider_engine_spark.pins import pin, scope

FLAGGED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("hash", LongType(), False),
        StructField("shard", IntegerType(), False),
        StructField("maybe_seen", BooleanType(), False),
    ]
)
FILTER_STATE_SCHEMA = StructType(
    [StructField("filter", BinaryType(), True)]
)


def _flag_fn_factory(capacity_per_shard: int):
    """The applyInPandasWithState body for the constant-state form,
    module-level so tests can drive it directly with a fake state handle
    and assert the state size never grows."""
    from spider_engine_spark.operators.cuckoo import CuckooFilter

    def fn(
        key, pdf_iter: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            filt = CuckooFilter.from_bytes(bytes(state.get[0]))
        else:
            filt = CuckooFilter(capacity_per_shard)
        shard = int(key[0])
        # batch-first contract across ARROW CHUNKS too: a micro-batch
        # larger than arrow.maxRecordsPerBatch arrives as several pdfs;
        # a hash emitted from an earlier chunk must not re-emit from a
        # later one (it would come back flagged maybe and the FP audit,
        # which only sees the PREVIOUS batches' seen table, would admit
        # it twice). A hash-set with pandas' C-level isin keeps this
        # O(batch) total — an array rebuilt+re-sorted per chunk would be
        # O(chunks x batch log batch). Bounded by the micro-batch size,
        # not history.
        emitted: set = set()
        for pdf in pdf_iter:
            pdf = pdf.drop_duplicates(subset=["hash"], keep="first")
            if emitted:
                pdf = pdf.loc[~pdf["hash"].isin(emitted)]
            if pdf.empty:
                continue
            signed = pdf["hash"].to_numpy(dtype=np.int64)
            emitted.update(signed.tolist())
            hashes = signed.astype(np.uint64)
            maybe = filt.contains(hashes)
            if (~maybe).any():
                # definitely-new hashes enter the filter; maybe-seen ones
                # do NOT (the FP-persistence property keeps them maybe,
                # and the exact table is the authority for them)
                filt.insert(hashes[~maybe])
            out = pdf[["url", "hash"]].copy()
            out["shard"] = shard
            out["maybe_seen"] = maybe
            yield out
        state.update((filt.to_bytes(),))

    return fn


def stateful_seen_flag(
    stream: DataFrame,
    url_col: str = "url",
    n_shards: int = 8,
    capacity_per_shard: int = 1 << 16,
) -> DataFrame:
    """Constant-state streaming seen-probe: emits every batch-first row
    with a maybe_seen flag. Compose with make_seen_batch_handler for the
    exact (FP-audited) first-seen stream — the streaming analogue of the
    batch probe_hashes -> exact-check -> admit dataflow."""
    keyed = stream.select(
        F.col(url_col).alias("url"),
        F.xxhash64(F.col(url_col)).alias("hash"),
    ).withColumn(
        "shard", shard_expr(F.col("hash"), n_shards)
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _flag_fn_factory(capacity_per_shard),
        outputStructType=FLAGGED_SCHEMA,
        stateStructType=FILTER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def make_seen_batch_handler(io):
    """foreachBatch FP-audit for stateful_seen_flag output: definitely-new
    rows are admitted outright; maybe-seen rows anti-join the durable
    seen table (shard-pruned read, like the batch frontier); admitted
    rows append to it. Idempotent per batch_id across checkpoint replays."""

    @scope()
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if io.exists("seen") and int(
            io.meta("seen").get("batch_id", -1)
        ) >= batch_id:
            return
        spark = batch_df.sparkSession
        batch_df = pin(batch_df)
        fresh = batch_df.filter(~F.col("maybe_seen"))
        maybe = batch_df.filter(F.col("maybe_seen"))
        if io.exists("seen"):
            # prune the seen read to the shards the maybe-set touches
            # (bounded driver collect: <= n_shards values)
            shards = [
                r["shard"]
                for r in maybe.select("shard").distinct().collect()
            ]
            if shards:
                seen = io.read(spark, "seen").filter(
                    F.col("shard").isin(shards)
                )
                survivors = maybe.join(
                    seen.select("shard", "hash"),
                    ["shard", "hash"],
                    "left_anti",
                )
            else:
                survivors = maybe
        else:
            survivors = maybe
        # belt over the operator's cross-chunk guard: the seen table must
        # never hold a hash twice even if an upstream emits a duplicate
        admitted = (
            fresh.unionByName(survivors)
            .select("url", "hash", "shard")
            .dropDuplicates(["shard", "hash"])
        )
        io.write(
            "seen",
            # dropDuplicates shuffles on (shard, hash), spreading every
            # shard across all tasks — re-co-locate by shard so the hive
            # write emits one file per shard, not tasks × shards
            admitted.repartition("shard"),
            mode="append",
            meta={"batch_id": batch_id},
            partition_by=["shard"],
        )

    return handle


def stream_seen_dedup_scalable(
    spark,
    input_dir: str,
    state_root: str,
    checkpoint_dir: str,
    schema: str = "url string",
    n_shards: int = 8,
    capacity_per_shard: int = 1 << 16,
):
    """End-to-end constant-state streaming dedup: flag operator + exact
    FP-audit handler; the durable seen table holds exactly the first-seen
    URLs. Returns the StreamingQuery (availableNow trigger)."""
    from spider_engine_spark.sources.tableio import TableIO

    io = TableIO(state_root)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    flagged = stateful_seen_flag(
        stream, n_shards=n_shards, capacity_per_shard=capacity_per_shard
    )
    return (
        flagged.writeStream.foreachBatch(make_seen_batch_handler(io))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
