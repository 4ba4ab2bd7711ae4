"""Distributed exact global ranking / NTILE.

`ntile(k) OVER (ORDER BY ...)` with no PARTITION BY funnels every row
through ONE task (Spark warns `WindowExec: No Partition Defined`) — a
known scale-killer the moment the ranked dimension grows with the
corpus.  This module computes the SAME result with a range shuffle:

1. repartitionByRange on the sort keys (partition i's keys all precede
   partition i+1's) + a per-partition row_number window — every
   partition is an independent task,
2. one bounded driver collect of the per-partition COUNTS (O(shuffle
   partitions) rows — bounded by parallelism, never by data) turned
   into cumulative offsets,
3. global rank = partition offset + local row_number, and the ntile
   bucket from rank via the exact SQL-standard law (the first N%k
   buckets get ceil(N/k) rows, the rest floor(N/k)).

The ranked frame is localCheckpoint-pinned between the counts pass and
the final compute: repartitionByRange samples range boundaries, so the
two passes must read the SAME materialized partitioning (the catalog
ingest's docId assignment uses the identical pin-then-count pattern).

Everything is integer arithmetic — results are bit-identical to the
single-partition window (pinned by tests against F.ntile and the
DuckDB oracle of the `window_ntile_users` driver query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spider_engine_spark.pins import pin, release
from spider_engine_spark.session import local_frame

_PID = "__rank_pid"
_LRN = "__rank_local"


def with_global_ranks(
    df: DataFrame,
    order_by: list[Column],
    out: str = "rank",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int]:
    """All input columns + `out` = exact 1-based global row_number under
    `order_by`, computed without a single-partition window.  Returns
    (frame, total row count).

    Snapshot lifecycle: checkpoint_dir=None pins ONE localCheckpoint per
    call (the ranked frame the result reads lazily) in the caller's
    pins.scope(), which frees it once the result is materialized.
    Passing a checkpoint_dir uses reliable df.checkpoint() instead:
    nothing is block-pinned and the snapshot survives executor loss;
    the caller owns the dir's lifecycle.

    Ties across `order_by` are split arbitrarily-but-deterministically
    within a partition (row_number semantics); pass a tiebreak column
    (as the global-window form needs anyway) for full determinism.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # persisted: repartitionByRange SAMPLES its input to pick range
    # boundaries, so the input pipeline is otherwise evaluated twice
    # (sampling pass + the real shuffle). Plain evictable cache,
    # lineage retained.
    df = pin(df)
    w = Window.partitionBy(_PID).orderBy(*order_by)
    ranked = (
        df.repartitionByRange(num_partitions, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(_LRN, F.row_number().over(w))
    )
    # pin the partitioning: range boundaries are sampled, so the counts
    # pass below and the final compute must see one frozen assignment
    # of rows to partitions
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        ranked = ranked.checkpoint()
    else:
        ranked = pin(ranked, snapshot=True)
    # the input cache served its purpose the moment the ranked frame
    # was (eagerly) checkpointed — release it so the only retained
    # snapshot is the checkpoint itself
    release(df)
    counts = {
        r[_PID]: r["cnt"]
        for r in ranked.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        return (
            ranked.withColumn(out, F.lit(None).cast("long")).drop(_PID, _LRN),
            0,
        )
    off = local_frame(spark, offsets, f"{_PID} int, __rank_off long")
    res = (
        ranked.join(F.broadcast(off), _PID)
        .withColumn(out, (F.col("__rank_off") + F.col(_LRN)).cast("long"))
        .drop(_PID, _LRN, "__rank_off")
    )
    return res, total


def distributed_ntile(
    df: DataFrame,
    n: int,
    order_by: list[Column],
    out: str = "bucket",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact `ntile(n) OVER (ORDER BY order_by)` at scale: same results
    as the global window, no single-task funnel.

    Bucket law (SQL standard, = Spark's and DuckDB's NTILE): with N
    rows, rem = N % n buckets of size q+1 come first (q = N DIV n),
    then n-rem buckets of size q; the bucket of global rank r (1-based)
    is ceil(r/(q+1)) in the first region, rem + ceil((r-rem*(q+1))/q)
    after it.  N is known driver-side from the counts pass, so the
    emitted expression contains only the valid branches (no division
    by zero when N < n).
    """
    if n < 1:
        raise ValueError(f"ntile buckets must be >= 1, got {n}")
    ranked, total = with_global_ranks(
        df, order_by, out="__rank_r", num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
    )
    q, rem = divmod(total, n)
    r = F.col("__rank_r")
    # integer DIV throughout (never double /): ceil(a/b) == (a+b-1) DIV b
    # stays exact at any rank magnitude
    if q == 0:
        # fewer rows than buckets: rank IS the bucket
        bucket = r
    elif rem == 0:
        bucket = F.expr(f"(__rank_r + {q - 1}) DIV {q}")
    else:
        head = rem * (q + 1)
        bucket = F.when(
            r <= F.lit(head),
            F.expr(f"(__rank_r + {q}) DIV {q + 1}"),
        ).otherwise(
            F.expr(f"{rem} + (__rank_r - {head} + {q - 1}) DIV {q}")
        )
    return ranked.withColumn(out, bucket.cast("long")).drop("__rank_r")
