"""Streaming ingest of embeddings into a persisted IVF index.

Completes the index-maintenance story: build_ivf_index creates the
at-rest index (centroids in table meta, assignment hive-partitioned by
ivf_list), ivf_append adds vectors incrementally, and this module
drives ivf_append from Structured Streaming so a crawl's embedding
stream lands in the searchable index micro-batch by micro-batch.

Crash/replay safety comes from ivf_append's own guards: the batch_id
idempotence law (a replayed committed batch is a no-op), the empty-
batch no-op (a zero-row hive write would commit a parquet-less dir and
brick reads), and the dimension/NULL validation (a malformed vector
raises instead of vanishing into the unsearchable list -1).

The index must already exist (build_ivf_index) — the centroids ARE the
assignment law, so there is nothing to append into before a build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

from spider_engine_spark.operators.similarity import ivf_append
from spider_engine_spark.sources.tableio import TableIO


def make_ivf_batch_handler(
    io: TableIO,
    name: str,
    compact_every: int = 8,
    compact_max_bytes: int = 64 << 20,
):
    """The foreachBatch body (exposed for crash-replay tests, like the
    ingest/neardup handlers).  Joins the shared compaction boundary law
    (TableIO.compact_if_due): without it the index accumulates one
    snapshot dir per micro-batch and every probe plan grows linearly in
    stream length; compaction preserves both the hive ivf_list layout
    (manifest-recorded partition_by) and the meta (centroids, max
    batch_id carry-forward)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ivf_append(io, name, batch_df, batch_id=batch_id)
        io.compact_if_due(
            batch_df.sparkSession,
            name,
            batch_id,
            compact_every,
            max_bytes=compact_max_bytes,
        )

    return handle


def stream_ivf_ingest(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    name: str,
    checkpoint_dir: str,
    schema: str = "vec_id long, embedding array<float>",
    max_files_per_trigger: int = 1,
    compact_every: int = 8,
    compact_max_bytes: int = 64 << 20,
):
    """Stream embedding parquet files into the persisted IVF index
    `name` under `state_root`; returns the StreamingQuery (availableNow
    — drain-and-stop). Probes see each micro-batch as soon as its
    append commits, with partition pruning intact.

    Fails fast BEFORE the stream starts: the index must exist (the
    stored centroids are the assignment law) and `schema` must carry
    the index's own key/vec columns — otherwise the mismatch would only
    surface as an AnalysisException inside batch 0's foreachBatch."""
    io = TableIO(state_root)
    if not io.exists(name):
        raise ValueError(
            f"IVF index {name!r} does not exist under {state_root!r} — "
            f"run build_ivf_index first (the stored centroids are the "
            f"assignment law)"
        )
    meta = io.meta(name)
    cols = set(DataType.fromDDL(schema).fieldNames())
    missing = {meta["key"], meta["vec"]} - cols
    if missing:
        raise ValueError(
            f"schema {schema!r} lacks the index's column(s) "
            f"{sorted(missing)} (index key={meta['key']!r}, "
            f"vec={meta['vec']!r})"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            make_ivf_batch_handler(
                io, name,
                compact_every=compact_every,
                compact_max_bytes=compact_max_bytes,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
