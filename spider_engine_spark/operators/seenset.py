"""Distributed seen-set: sharded cuckoo filters + exact fallback table.

Dataflow per superstep (all Arrow-vectorized, no per-row Python at the
API surface):

  candidates --xxhash64--> shard = pmod(hash, P)
      (shard, hash) cogroup(shard) with filter-state table
      -> maybe-seen (shard, hash) set             (probe_hashes)
  definitely-new  = candidates MINUS maybe-seen   (no exact check needed —
                                                   cuckoo has no false
                                                   negatives)
  maybe-seen      = exact LEFT SEMI join vs seen table (small fraction =
                    FP rate + true dups)
  admitted        = definitely-new UNION (maybe-seen MINUS exact-seen)
      cogroup(shard) with the dirty shards' filter-state rows
      -> their new filter-state rows, appended    (insert)

The exact seen table is itself hash-partitioned parquet via TableIO; at
10^10 URLs only the (tiny) maybe-seen fraction ever joins against it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from spider_engine_spark.operators.cuckoo import CuckooFilter
from spider_engine_spark.session import local_frame

STATE_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("nbuckets", IntegerType(), False),
        StructField("count", LongType(), False),
        StructField("data", BinaryType(), False),
    ]
)


def empty_state(spark) -> DataFrame:
    """No filter rows, as a LocalRelation: a consumer's scan of it
    starts no Python process."""
    return local_frame(spark, [], STATE_SCHEMA)


def shard_expr(hash_col, num_shards: int):
    """THE shard law: pmod(hash, P) as int. Single definition — the
    persisted seen/filter layout and every probe path (batch, streaming,
    migration) must agree bit-for-bit, or a drifted copy probes the
    wrong filter shard and produces cuckoo false negatives (the same
    single-source rule as postings.term_bucket_expr)."""
    return F.pmod(hash_col, F.lit(num_shards)).cast("int")


def with_shard(df: DataFrame, url_col: str, num_shards: int) -> DataFrame:
    """Native hash+shard: xxhash64 on the canonical URL (JVM-side)."""
    return df.withColumn("hash", F.xxhash64(F.col(url_col))).withColumn(
        "shard", shard_expr(F.col("hash"), num_shards)
    )


def _shard_filter(state: pd.DataFrame) -> CuckooFilter:
    """Decode a shard's one filter-state row."""
    if len(state) > 1:
        raise ValueError(
            "unresolved filter state: expected one row per shard "
            "— resolve append-only state with latest_state() first"
        )
    return CuckooFilter.from_bytes(bytes(state["data"].iloc[0]))


def insert(
    admitted: DataFrame, state: DataFrame, capacity_per_shard: int
) -> DataFrame:
    """Filter-state rows for the shards that received admitted hashes,
    with those hashes added; shards with no admitted rows emit nothing.

    Callers append the result (tagged with a step column) and readers
    resolve latest-row-per-shard via latest_state(); bootstrap and the
    re-shard migration pass empty_state(), so there the result is the
    whole state. The state side is pre-pruned to the dirty shards with a
    broadcast semi-join, so untouched shards' bytes never enter the
    cogroup shuffle (at the documented 10^10-URL sizing a full-state
    round trip moves ~32 GiB of filter bytes through Arrow per
    superstep even when one shard changed).

    Each shard's hashes are sorted before insertion, so the filter
    bytes are a function of the state and the hash SET, not of the
    admitted frame's row order: a re-shard rebuild and a superstep
    replayed after a crash both produce byte-identical filters."""

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=["shard", "nbuckets", "count", "data"])
        if right.empty:
            filt = CuckooFilter(capacity_per_shard)
            count = 0
        else:
            filt = _shard_filter(right)
            count = int(right["count"].iloc[0])
        n = filt.insert(np.sort(left["hash"].to_numpy()).astype("uint64"))
        return pd.DataFrame(
            {
                "shard": [int(left["shard"].iloc[0])],
                "nbuckets": [filt.nbuckets],
                "count": [count + n],
                "data": [filt.to_bytes()],
            }
        )

    dirty = state.join(
        F.broadcast(admitted.select("shard").distinct()), "shard", "leftsemi"
    )
    return (
        admitted.select("shard", "hash")
        .groupBy("shard")
        .cogroup(dirty.groupBy("shard"))
        .applyInPandas(fn, STATE_SCHEMA)
    )


def latest_state(df: DataFrame) -> DataFrame:
    """Resolve a multi-version filter table (append-only rows tagged with
    a `step` column) to the latest row per shard.

    Safe on any SUBSET of snapshot dirs: the reduction only drops rows
    superseded *within* the subset, so compaction can fold filter dirs
    with this as the transform and the global latest-per-shard over
    (compacted + newer dirs) is unchanged."""
    return (
        df.groupBy("shard")
        .agg(
            F.max_by(
                F.struct("nbuckets", "count", "data", "step"), "step"
            ).alias("s")
        )
        .select(
            "shard",
            F.col("s.nbuckets").alias("nbuckets"),
            F.col("s.count").alias("count"),
            F.col("s.data").alias("data"),
            F.col("s.step").alias("step"),
        )
    )


def probe_hashes(keys: DataFrame, state: DataFrame) -> DataFrame:
    """Minimal-traffic probe: keys(shard, hash) -> maybe-seen (shard, hash).

    Only 16 bytes/candidate cross the Arrow boundary (a full-row probe
    would round-trip every candidate column; at millions of candidates
    that dominates the stage). The caller splits candidates with a join
    against the (tiny) maybe-set — AQE broadcasts it."""

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"shard": [], "hash": []}).astype(
                {"shard": "int32", "hash": "int64"}
            )
        filt = _shard_filter(right)
        hits = filt.contains(left["hash"].to_numpy().astype("uint64"))
        out = left.loc[hits, ["shard", "hash"]]
        return out

    return (
        keys.groupBy("shard")
        .cogroup(state.groupBy("shard"))
        .applyInPandas(fn, "shard int, hash long")
    )
