"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k for one query vector — the
  correctness baseline. Dot products are JVM-native left-folds
  (F.zip_with + F.aggregate), so the scan stays in whole-stage codegen;
  top-k is TakeOrdered (no full sort shuffle).
- lsh_bucket / ann_topk_lsh: sign-LSH (random-hyperplane) bucketing —
  the scale path. All vectors are bucketed once (a narrow column add);
  a query probes only its own bucket plus hamming<=1 neighbor buckets.
  At 10^10 rows the probe touches ~2^-b of the data per bucket probed.

Hyperplanes are deterministic (seeded numpy) and passed as literals so
the plan is reproducible; recall is asserted against brute force in
tests (driver-facing entries expose the brute-force baseline as the
oracle-checked query and the LSH variant as the recall-tested scale
path).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spider_engine_spark.operators.dedup import cosine_col
from spider_engine_spark.pins import pin, scope


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def brute_force_topk(
    df: DataFrame, key: str, vec: str, query: list[float], k: int = 10
) -> DataFrame:
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        df.select(F.col(key), cosine_col(F.col(vec), qcol).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(key))
        .limit(k)
    )


def _bucket_col(vec: str, planes: list[list[float]]):
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.col(vec),
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for p in planes
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket * 2 + b
    return bucket


def lsh_bucket(df: DataFrame, vec: str, planes: list[list[float]]) -> DataFrame:
    """Add the sign-LSH bucket column (done once, persisted with the table
    at scale — bucket is the partition key of the ANN index)."""
    return df.withColumn("bucket", _bucket_col(vec, planes))


def ann_topk_lsh(
    bucketed: DataFrame,
    key: str,
    vec: str,
    query: list[float],
    planes: list[list[float]],
    k: int = 10,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket and its hamming<=h
    neighbor buckets only, then exact cosine within the probed set."""
    q = np.asarray(query, dtype=np.float64)
    qbits = [1 if float(np.dot(q, np.asarray(p))) >= 0 else 0 for p in planes]
    qbucket = 0
    for b in qbits:
        qbucket = qbucket * 2 + b
    buckets = {qbucket}
    if probe_hamming >= 1:
        for i in range(len(planes)):
            buckets.add(qbucket ^ (1 << i))
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        bucketed.filter(F.col("bucket").isin(list(buckets)))
        .select(F.col(key), cosine_col(F.col(vec), qcol).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(key))
        .limit(k)
    )


def _norm_col(vec) -> F.Column:
    """sqrt(sum v²) with cosine_col's exact fold (same order, same
    casts) — shared so precomputed norms stay bit-identical to the
    inline ones."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(
        F.aggregate(
            c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _py_norm(c: list[float]) -> float:
    """Driver-side replica of _norm_col for a literal centroid: Python
    floats ARE IEEE doubles and the fold order matches (left-to-right
    acc + x*x, then sqrt), so the value is bit-identical to the JVM
    fold over the same F.lit doubles."""
    import math

    acc = 0.0
    for x in c:
        xd = float(x)
        acc = acc + xd * xd
    return math.sqrt(acc)


def ivf_assign(
    df: DataFrame,
    key: str,
    vec: str,
    centroids: list[list[float]],
    keep_norm: str | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid
    (the inverted-file 'list'). Centroids are fixed/deterministic (at
    scale: a k-means sample pass); assignment is a JVM-native argmin over
    k dot-product folds — one narrow column added, table partitioned by
    `ivf_list` at rest.

    Per-row cost is k dot folds + ONE norm fold: the row vector's norm
    is materialized once as a named column and each centroid's norm is a
    driver-computed literal (bit-identical to the in-plan fold, see
    _py_norm) — the former per-centroid cosine_col re-folded the row
    norm k times and the centroid norm k times per row, tripling the
    arithmetic for identical values. keep_norm retains the row-norm
    column under that name (callers that verify exact cosines pairwise
    reuse it instead of re-folding).

    The k dot folds run as ONE transform over a k×dim literal matrix
    (a single Literal leaf): k unrolled folds each embedding a dim-wide
    CreateArray of literals made the expression tree O(k·dim) nodes —
    seconds of analyzer/optimizer/codegen time per call at k=8, dim=64,
    dominating the k-means fit at bench scale. Values are unchanged
    (same zip_with/aggregate fold over the same doubles; element_at
    norms are the same literals), and the argmin tie law is the same
    smallest-index when-chain over the sims array."""
    k = len(centroids)
    nv = "_ivf_nv" if keep_norm is None else keep_norm
    cents_lit = F.lit([[float(x) for x in c] for c in centroids])
    norms_lit = F.lit([_py_norm(c) for c in centroids])
    d = df.withColumn(nv, _norm_col(vec))
    # _sims / _best as NAMED columns: the when-chain below references
    # them k times, and Column expressions are trees — named refs keep
    # the analyzed plan linear in k (CollapseProject refuses to inline
    # non-cheap expressions referenced more than once)
    sims = d.withColumn(
        "_sims",
        F.transform(
            cents_lit,
            lambda c, i: F.aggregate(
                F.zip_with(
                    F.col(vec),
                    c,
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / (F.col(nv) * F.element_at(norms_lit, i + 1)),
        ),
    ).withColumn(
        "_best",
        F.greatest(*[F.element_at(F.col("_sims"), i + 1) for i in range(k)])
        if k > 1
        else F.element_at(F.col("_sims"), 1),
    )
    assign = F.lit(-1)
    for i in reversed(range(k)):
        assign = F.when(
            F.element_at(F.col("_sims"), i + 1) == F.col("_best"), F.lit(i)
        ).otherwise(assign)
    out = sims.withColumn("ivf_list", assign).drop("_sims", "_best")
    return out if keep_norm is not None else out.drop(nv)


def ivf_topk(
    assigned: DataFrame,
    key: str,
    vec: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF probe: rank centroids by similarity to the query, scan only the
    n_probe nearest inverted lists, exact cosine within them."""
    q = np.asarray(query, dtype=np.float64)

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(np.dot(a, b) / (na * nb)) if na and nb else -1.0

    order = sorted(
        range(len(centroids)),
        key=lambda i: -cos(q, np.asarray(centroids[i], dtype=np.float64)),
    )
    probe = order[:n_probe]
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        assigned.filter(F.col("ivf_list").isin(probe))
        .select(F.col(key), cosine_col(F.col(vec), qcol).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(key))
        .limit(k)
    )


def sample_centroids(
    df: DataFrame, vec: str, n: int, key: str
) -> list[list[float]]:
    """Deterministic centroid seed: the first n vectors by key order
    (deterministic for reproducible plans; kmeans_centroids refines)."""
    rows = df.orderBy(key).limit(n).select(vec).collect()
    return [list(r[0]) for r in rows]


def kmeans_centroids(
    df: DataFrame,
    key: str,
    vec: str,
    k: int,
    iters: int = 5,
    seed_key_order: bool = True,
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd) for the IVF coarse quantizer.

    Deterministic by construction: seeds are the first k vectors in key
    order, assignment is the same JVM argmax-cosine used by ivf_assign,
    and the update step is an exact per-list mean (one groupBy(ivf_list)
    with dim per-element decimal sums — exact and order-independent, so
    the result is independent of partitioning; map-side combinable, k
    rows per map partition instead of the former posexplode's N×dim
    shuffle rows). Each iteration is one assignment pass + one narrow
    aggregation; only the k x dim centroid matrix ever reaches the
    driver. An empty list keeps its previous centroid.

    NULL vector elements: ivf_assign gives a vector with a NULL element
    no cosine to any centroid, so it lands in list -1 and moves no
    centroid. Each coordinate is the mean over the list's non-NULL
    values in that dimension; a dimension with none keeps the previous
    coordinate.

    The feature frame is PINNED for the duration of the fit (the
    iterative-op law: without it, the seed pass plus every Lloyd
    iteration re-derives the whole upstream pipeline — scan, unions,
    transformations — once per pass; measured ~2x on the semdedup
    bench input) and released before returning. Plain evictable cache,
    lineage retained (executor-loss-safe).
    """
    with scope():
        base = pin(df.select(F.col(key).alias("_k"), F.col(vec).alias("_v")))
        cents = sample_centroids(base, "_v", k, "_k")
        dim = len(cents[0]) if cents else 0
        for _ in range(iters):
            assigned = ivf_assign(base, "_k", "_v", cents)
            # update step as dim per-element column sums in ONE
            # groupBy(ivf_list) — map-side combinable, k rows shuffled
            # per map partition. The former posexplode shape shuffled
            # N×dim (list, dim, x) rows per pass. Per-dim decimal(28,10)
            # sum (exact, order-independent) cast double, divided
            # driver-side in Python, where float IS the same IEEE double
            # division an in-plan `double / count` performs.
            rows = (
                assigned.filter(F.col("ivf_list") >= 0)
                .groupBy("ivf_list")
                .agg(
                    *[
                        F.sum(
                            F.col("_v")[d].cast("decimal(28,10)")
                        )
                        .cast("double")
                        .alias(f"_s{d}")
                        for d in range(dim)
                    ],
                    # per-dim counts of non-NULL elements (the former
                    # posexplode shape divided by the row count,
                    # NULL elements included)
                    *[
                        F.count(F.col("_v")[d]).alias(f"_n{d}")
                        for d in range(dim)
                    ],
                )
                .collect()
            )
            new_cents = [list(c) for c in cents]  # empty lists keep centroid
            for r in rows:
                old = cents[r["ivf_list"]]
                new_cents[r["ivf_list"]] = [
                    r[f"_s{d}"] / r[f"_n{d}"] if r[f"_n{d}"] else old[d]
                    for d in range(dim)
                ]
            cents = new_cents
        return cents


def ivf_inertia(df: DataFrame, key: str, vec: str, cents: list[list[float]]) -> float:
    """Mean max-cosine of every vector to its assigned centroid (the
    spherical-k-means objective; higher is tighter)."""
    assigned = ivf_assign(
        df.select(F.col(key).alias("_k"), F.col(vec).alias("_v")),
        "_k", "_v", cents,
    )
    sims = [
        cosine_col(
            F.col("_v"), F.array(*[F.lit(float(x)) for x in c])
        ).alias(f"_s{i}")
        for i, c in enumerate(cents)
    ]
    best = assigned.select(F.greatest(*sims).alias("best"))
    return best.agg(F.avg("best")).collect()[0][0]


def build_ivf_index(
    io,
    name: str,
    df: DataFrame,
    key: str,
    vec: str,
    k: int = 16,
    iters: int = 5,
) -> list[list[float]]:
    """Build a PERSISTED IVF index: k-means centroids + the assignment
    table written once through TableIO, hive-partitioned by `ivf_list`.

    Round-3 advice #7: the at-scale IVF shape is build-once/probe-many —
    re-running k-means + assignment per query (as the stateless driver
    entry must) re-scans the corpus each time; against an at-rest index a
    probe reads ONLY the n_probe list partitions (partition pruning on
    the hive `ivf_list` column, the same mechanism as the postings
    term_bucket and seen-shard reads). Returns the centroids (k x dim —
    driver-scalar by construction); they are also stored in the table
    meta so probes need no side-channel.
    """
    cents = kmeans_centroids(df, key, vec, k, iters)
    assigned = ivf_assign(
        df.select(F.col(key), F.col(vec)), key, vec, cents
    )
    io.write(
        name,
        # co-locate each list before the hive write: without it every
        # task writes one file per list it holds (tasks × k files); the
        # per-list files this produces are large at scale but parquet
        # row-groups keep them splittable on read
        assigned.repartition("ivf_list"),
        mode="overwrite",
        meta={"centroids": cents, "k": k, "key": key, "vec": vec},
        partition_by=["ivf_list"],
    )
    return cents


def ivf_append(
    io, name: str, df: DataFrame, batch_id: int | None = None
) -> int | None:
    """Incrementally add vectors to a persisted IVF index — the
    streaming-ingest counterpart of build-once/probe-many: new rows are
    assigned to the EXISTING centroids (a map-only projection against
    k x dim literals; no shuffle beyond the hive co-location
    repartition) and appended under the same ivf_list partitioning, so
    probes see them immediately with unchanged partition pruning.

    Centroids are deliberately NOT refit — the standard IVF maintenance
    trade: assignment stays correct for any centroid set (probe ranks
    the same centroids it assigns against), recall drifts only if the
    data distribution shifts, and then the answer is a build_ivf_index
    rebuild (watch per-list size skew via the table's partition dirs).
    The index meta (centroids/k/key/vec) carries over unchanged.

    Guards (one validation pass over the batch): an EMPTY batch is a
    no-op returning None — a zero-row hive write commits a dir with no
    parquet files, which bricks every subsequent read of the table —
    and a vector whose dimension differs from the stored centroids
    raises instead of being silently assigned list -1 (zip_with pads
    with nulls → null cosines → the assign fallback), where no probe
    would ever find it.  `batch_id` opts into the streaming idempotence
    law (skip if the index meta already committed this id); without it
    the caller owns retry discipline — a blind retry of a committed
    append duplicates rows."""
    meta = io.meta(name)
    if batch_id is not None and int(meta.get("batch_id", -1)) >= batch_id:
        return None
    cents, key, vec = meta["centroids"], meta["key"], meta["vec"]
    dim = len(cents[0])
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        # isNull check is load-bearing: size(NULL) is NULL, NULL != dim
        # is NULL, and sum() skips NULLs — a NULL vector would otherwise
        # sail through the guard straight into the list -1 fallback
        F.coalesce(
            F.sum(F.col(vec).isNull().cast("int")), F.lit(0)
        ).alias("nulls"),
        F.coalesce(
            F.sum((F.size(F.col(vec)) != dim).cast("int")), F.lit(0)
        ).alias("wrong_dim"),
    ).collect()[0]
    if stats["n"] == 0:
        return None
    if stats["nulls"] or stats["wrong_dim"]:
        raise ValueError(
            f"ivf_append: {stats['nulls']} NULL vector(s) and "
            f"{stats['wrong_dim']} vector(s) with dim != {dim} (the "
            f"index centroids' dimension) — both would be silently "
            f"unsearchable (assigned list -1); rebuild the index for a "
            f"new dimension"
        )
    assigned = ivf_assign(df.select(F.col(key), F.col(vec)), key, vec, cents)
    new_meta = dict(meta)
    if batch_id is not None:
        new_meta["batch_id"] = batch_id
    return io.write(
        name,
        assigned.repartition("ivf_list"),
        mode="append",
        meta=new_meta,
        partition_by=["ivf_list"],
    )


def ivf_probe_index(
    spark,
    io,
    name: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index: rank the stored centroids against the
    query on the driver (k x dim floats — tiny), then scan only the
    n_probe nearest list partitions with exact cosine re-ranking.

    The returned plan's FileScan carries
    `PartitionFilters: [ivf_list IN (...)]` — the other k - n_probe
    partitions are pruned before any IO (asserted in
    tests/test_dedup_similarity.py)."""
    meta = io.meta(name)
    cents = meta["centroids"]
    key, vec = meta["key"], meta["vec"]
    q = np.asarray(query, dtype=np.float64)

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(np.dot(a, b) / (na * nb)) if na and nb else -1.0

    order = sorted(
        range(len(cents)),
        key=lambda i: -cos(q, np.asarray(cents[i], dtype=np.float64)),
    )
    probe = order[:n_probe]
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        io.read(spark, name)
        .filter(F.col("ivf_list").isin(probe))
        .select(F.col(key), cosine_col(F.col(vec), qcol).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(key))
        .limit(k)
    )
