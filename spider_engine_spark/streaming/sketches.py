"""Streaming sketch maintenance — CMS counters and HLL registers
folded micro-batch by micro-batch into persisted TableIO tables.

The merge laws make the persisted sketch split-invariant: CMS cells
SUM, HLL registers MAX, so after any prefix of the stream the table
equals the batch-built sketch of everything ingested so far — for ANY
micro-batch split (the equality the driver query's oracle pins).
Unlike the append-family handlers (postings/base, neardup buckets,
IVF) the sketch table is OVERWRITTEN each batch: it is bounded at
depth*width / 2^bucket_bits rows BY CONSTRUCTION, so there is no data
growth — and the SNAPSHOT HISTORY that per-batch commits would
otherwise accumulate (one manifest entry + one tiny dir per batch,
forever) is bounded too, by TableIO.expire_versions(keep_last=8)
at every append.

The batch_id idempotence guard is load-bearing for CMS specifically: a
replayed committed batch re-SUMMED into the counters double-counts
(HLL's max would forgive the replay; CMS's sum does not), so the meta
batch_id check must come before any merge.  Both sketch kinds run the
guard through ONE shared append body (_sketch_append) — the
replay/empty/validation law cannot diverge between them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from spider_engine_spark.operators.sketches import (
    _check_dims,
    cms_counters,
    hll_registers,
)
from spider_engine_spark.session import local_frame
from spider_engine_spark.sources.tableio import TableIO

_CMS_SCHEMA = "seed int, bucket bigint, cnt bigint"
_KEEP_VERSIONS = 8  # snapshot history kept per sketch table


def cms_sketch_init(
    spark: SparkSession,
    io: TableIO,
    name: str,
    term: str = "term",
    width: int = 256,
    depth: int = 4,
) -> None:
    """Create an empty persisted CMS table. width/depth/term are
    committed to the meta — they ARE the sketch identity (probing or
    merging with different ones silently underestimates), so appends
    read them from the table, never from call sites."""
    _check_dims(width, depth)
    io.write(
        name,
        local_frame(spark, [], _CMS_SCHEMA),
        meta={
            "kind": "cms",
            "term": term,
            "width": int(width),
            "depth": int(depth),
            "batch_id": -1,
        },
    )


def hll_sketch_init(
    spark: SparkSession,
    io: TableIO,
    name: str,
    key: str = "k",
    bucket_bits: int = 8,
) -> None:
    """Create the persisted HLL table — (bucket bigint, max_rho int)
    with ALL 2^bucket_bits registers at 0 (empty registers carry
    estimate weight and keep the merge a fixed-shape cell-wise max).
    bucket_bits is validated HERE, at init (the fail-fast contract):
    deferring to the first append would surface the error inside batch
    0's foreachBatch, after a useless register table was committed."""
    if not 4 <= bucket_bits <= 16:
        raise ValueError(
            f"bucket_bits must be in [4, 16], got {bucket_bits}"
        )
    m = 1 << bucket_bits
    regs = spark.range(m).select(
        F.col("id").cast("long").alias("bucket"),
        F.lit(0).cast("int").alias("max_rho"),
    )
    io.write(
        name,
        regs,
        meta={
            "kind": "hll",
            "key": key,
            "bucket_bits": int(bucket_bits),
            "batch_id": -1,
        },
    )


def _sketch_append(
    io: TableIO,
    name: str,
    df: DataFrame,
    batch_id: int | None,
    col_meta_key: str,
    build,
    group_cols: list[str],
    agg,
) -> int | None:
    """THE shared append body — replay guard, input validation,
    empty-batch no-op, union-merge, meta bump, history expiry — so the
    law cannot diverge between the sketch kinds. `build(df, meta)`
    returns the batch sketch; `agg` is the cell merge (sum / max)."""
    meta = io.meta(name)
    if batch_id is not None and int(meta.get("batch_id", -1)) >= batch_id:
        return None
    col = meta[col_meta_key]
    if col not in df.columns:
        raise ValueError(
            f"batch lacks the sketch's {col_meta_key} column {col!r} "
            f"(columns: {df.columns})"
        )
    if df.limit(1).count() == 0:
        return None
    spark = df.sparkSession
    # groupBy().agg() yields (group cols, agg col) — already the
    # persisted column order
    merged = (
        io.read(spark, name)
        .unionByName(build(df, meta))
        .groupBy(*group_cols)
        .agg(agg)
    )
    new_meta = dict(meta)
    if batch_id is not None:
        new_meta["batch_id"] = max(batch_id, int(meta.get("batch_id", -1)))
    version = io.write(name, merged, meta=new_meta)
    io.expire_versions(name, keep_last=_KEEP_VERSIONS)
    return version


def cms_sketch_append(
    io: TableIO, name: str, df: DataFrame, batch_id: int | None = None
) -> int | None:
    """Fold one micro-batch of term-occurrence rows into the persisted
    counters (cell-wise sum).  Empty batches are no-ops; a replayed
    committed batch_id is a no-op (the sum law double-counts
    otherwise).  Returns the new snapshot version, or None."""
    return _sketch_append(
        io,
        name,
        df,
        batch_id,
        "term",
        lambda d, meta: cms_counters(
            d, meta["term"], width=int(meta["width"]), depth=int(meta["depth"])
        ).select("seed", "bucket", "cnt"),
        ["seed", "bucket"],
        F.sum("cnt").alias("cnt"),
    )


def hll_sketch_append(
    io: TableIO, name: str, df: DataFrame, batch_id: int | None = None
) -> int | None:
    """Fold one micro-batch of key rows into the persisted registers
    (cell-wise max). Same guards as cms_sketch_append (max WOULD
    forgive a replay, but the skip keeps snapshot churn and version
    history honest)."""
    return _sketch_append(
        io,
        name,
        df,
        batch_id,
        "key",
        lambda d, meta: hll_registers(
            d, meta["key"], bucket_bits=int(meta["bucket_bits"])
        ),
        ["bucket"],
        F.max("max_rho").alias("max_rho"),
    )


def make_cms_batch_handler(io: TableIO, name: str):
    """The foreachBatch body (exposed for crash-replay tests, like the
    ingest/neardup/ivf handlers)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cms_sketch_append(io, name, batch_df, batch_id=batch_id)

    return handle


def make_hll_batch_handler(io: TableIO, name: str):
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        hll_sketch_append(io, name, batch_df, batch_id=batch_id)

    return handle


def _stream_ingest(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    name: str,
    checkpoint_dir: str,
    schema: str,
    max_files_per_trigger: int,
    kind: str,
    col_meta_key: str,
    make_handler,
    init_fn_name: str,
):
    """Shared fail-fast wrapper: the sketch must exist (its parameters
    ARE its identity and live in the meta) and the stream schema must
    carry its input column — otherwise the mismatch would only surface
    inside batch 0's foreachBatch."""
    io = TableIO(state_root)
    if not io.exists(name):
        raise ValueError(
            f"{kind} sketch {name!r} does not exist under "
            f"{state_root!r} — run {init_fn_name} first (its parameters "
            f"are the sketch identity and live in its meta)"
        )
    col = io.meta(name)[col_meta_key]
    if col not in DataType.fromDDL(schema).fieldNames():
        raise ValueError(
            f"schema {schema!r} lacks the sketch's {col_meta_key} "
            f"column {col!r}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(make_handler(io, name))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms_ingest(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    name: str,
    checkpoint_dir: str,
    schema: str,
    max_files_per_trigger: int = 1,
):
    """Stream parquet term-occurrence files into the persisted CMS
    `name` under `state_root`; returns the StreamingQuery (availableNow
    — drain-and-stop)."""
    return _stream_ingest(
        spark,
        input_dir,
        state_root,
        name,
        checkpoint_dir,
        schema,
        max_files_per_trigger,
        "CMS",
        "term",
        make_cms_batch_handler,
        "cms_sketch_init",
    )


def stream_hll_ingest(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    name: str,
    checkpoint_dir: str,
    schema: str,
    max_files_per_trigger: int = 1,
):
    """Streaming counterpart of hll_sketch_append — see
    stream_cms_ingest."""
    return _stream_ingest(
        spark,
        input_dir,
        state_root,
        name,
        checkpoint_dir,
        schema,
        max_files_per_trigger,
        "HLL",
        "key",
        make_hll_batch_handler,
        "hll_sketch_init",
    )
