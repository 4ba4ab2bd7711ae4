"""Deduplication operators for training-data pipelines.

All hot paths are JVM-native (xxhash64 / array functions / bit_count in
whole-stage codegen); no Python in any per-row loop.

- exact_dedup: content-hash groupBy (keep min key).
- minhash_signatures / minhash_lsh_pairs: MinHash over token shingles via
  k seeded xxhash64 min-aggregations; banded LSH self-join for candidate
  pairs; exact shingle-Jaccard verification on candidates only.
- simhash_signatures / simhash_pairs: 60-bit md5 SimHash (fully
  JVM-native: conditional-sum aggregates, no Python anywhere),
  chunk-banded candidate generation, hamming distance via native
  bit_count(xor).
- embedding_near_dups: sign-LSH bucketing over embeddings + exact cosine
  verification inside buckets (F.zip_with/aggregate fold, JVM-side).

Scale notes: every candidate-generation step is a single shuffle on a
bucket key (band hash / simhash chunk / LSH bucket); verification only
touches bucket-colliding pairs, so the quadratic blowup is bounded by
bucket sizes. Skewed buckets (boilerplate shingles) are handled by AQE
skew-join; degenerate full-constant bands can additionally be dropped by
a df-style frequency cap (cap_bucket_size arg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spider_engine_spark.functions.hashes import md5_h60_col
from spider_engine_spark.functions.text_analysis import tokens
from spider_engine_spark.pins import pin, release


def exact_dedup(df: DataFrame, key: str, content: str) -> DataFrame:
    """One row per distinct content: min key kept + duplicate count."""
    return (
        df.groupBy(F.md5(F.col(content)).alias("content_hash"))
        .agg(
            F.min(F.col(key)).alias("kept_" + key),
            F.count("*").alias("n_copies"),
        )
    )


def shingles_col(content: str, n: int = 3):
    """n-gram shingles of the whitespace token stream (native).

    PERF: as a single Column expr the transform lambda captures `toks`
    as an EXPRESSION, re-splitting the text per shingle (trees, not
    DAGs).  Pipelines should go through with_shingles /
    exploded_shingles, which materialize the token array first."""
    return _shingles_from(tokens(F.col(content)), n)


def _shingles_from(toks, n: int):
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )
    )


def with_shingles(df: DataFrame, content: str, n: int, out: str) -> DataFrame:
    """Shingle ladder: tokenize ONCE into a column attribute, then build
    the shingle array from the per-row VALUE (the bare shingles_col expr
    re-splits the text per shingle; measured multi-x on corpus scans)."""
    tk = f"_sh_toks_{out}"
    d = df.withColumn(tk, tokens(F.col(content)))
    return d.withColumn(out, _shingles_from(F.col(tk), n)).drop(tk)


def exploded_shingles(
    df: DataFrame, key: str, content: str, n: int = 3
) -> DataFrame:
    """(key, shingle) rows via explode_outer + null-filter on the
    generator OUTPUT: plain explode makes InferFiltersFromGenerate add a
    size>0 filter that PushDownPredicates rewrites through the ladder
    with the whole shingle tree inlined (no duplication guard in that
    rule) — the null-check above the Generate cannot be pushed down, so
    the one-tokenize ladder survives."""
    d = with_shingles(df, content, n, "_sh_arr")
    return d.select(
        key, F.explode_outer("_sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def exploded_tokens(df: DataFrame, key: str, content: str) -> DataFrame:
    """(key, term) rows, same explode_outer pattern (a plain explode's
    inferred size>0 filter re-splits the text a second time per row)."""
    tk = "_tok_arr"
    d = df.withColumn(tk, tokens(F.col(content)))
    return d.select(
        key, F.explode_outer(tk).alias("term")
    ).filter(F.col("term").isNotNull())


def minhash_signatures(
    df: DataFrame, key: str, content: str, k: int = 16, n: int = 3
) -> DataFrame:
    """(key, sig: array<long>[k]) — MinHash over n-token shingles.

    h_i(s) = min over shingles of xxhash64(shingle, i): k seeded hash
    functions, computed as one explode + one groupBy (single shuffle)."""
    sh = exploded_shingles(df, key, content, n)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(k)
    ]
    sig = sh.groupBy(key).agg(*aggs)
    return sig.select(
        F.col(key),
        F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig"),
    )


def band_buckets(sigs: DataFrame, key: str, bands: int) -> DataFrame:
    """(key, band, bucket) — banded LSH bucket ids of MinHash signatures.

    sig length k is split into `bands` bands of k/bands rows; band value
    = xxhash64 of the slice.  Shared by the batch pair generator
    (minhash_lsh_pairs) and the incremental streaming probe
    (streaming/neardup.py), so both sides bucket by the identical law."""
    k = bands  # number of bands; rows per band derived from sig length
    return sigs.select(
        F.col(key),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                b * (F.size("sig") / k).cast("int") + 1,
                                (F.size("sig") / k).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def bucket_self_pairs(exploded: DataFrame, key: str) -> DataFrame:
    """Distinct (a, b) with a < b over keys sharing any (band, bucket)
    row — THE candidate-pair law.  Shared by the batch generator
    (minhash_lsh_pairs) and the streaming probe's in-batch leg
    (streaming/neardup.py) so a change here cannot silently break the
    batch/stream parity their common oracle asserts."""
    x, y = exploded.alias("a"), exploded.alias("b")
    return (
        x.join(
            y,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("a"), F.col(f"b.{key}").alias("b"))
        .distinct()
    )


def minhash_lsh_pairs(
    sigs: DataFrame,
    key: str,
    bands: int = 4,
    cap_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Returns distinct (a, b) with a < b.

    The band rows are persisted before the self-join: without it each
    join side re-derives the whole signature pipeline (tokenize →
    shingle → k min-hash aggs) — the static plan carries the subtree
    twice and no ReusedExchange applies across the broadcast/stream
    sides. Plain evictable cache (narrow (key, band, bucket) rows),
    lineage retained, held by the caller's pins.scope()."""
    exploded = pin(band_buckets(sigs, key, bands))
    if cap_bucket_size is not None:
        counts = exploded.groupBy("band", "bucket").agg(
            F.count("*").alias("bsz")
        )
        exploded = exploded.join(
            counts.filter(F.col("bsz") <= cap_bucket_size), ["band", "bucket"]
        )
    return bucket_self_pairs(exploded, key)


def shared_shingle_pairs(
    df: DataFrame,
    key: str,
    content: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact candidate pairs: docs sharing >= 1 n-gram shingle.

    max_df is the hot-shingle frequency cap: a boilerplate shingle shared
    by k documents would otherwise emit k^2 candidate rows (the quadratic
    bucket at 100 TB). Shingles with document frequency > max_df are
    dropped from candidate generation. Completeness under the cap:

    - exact-duplicate clusters (identical shingle SETS, jaccard = 1.0)
      are recovered separately by an equality join on a hash of the full
      shingle set, so even a cluster larger than max_df keeps all its
      pairs — the catastrophic case a dedup pass exists for;
    - a non-identical pair is found as long as it shares >= 1
      sub-threshold shingle; pairs whose ENTIRE overlap is boilerplate
      hotter than max_df can be missed — the same deliberate trade the
      LSH sibling makes with cap_bucket_size.

    The exploded (key, shingle) rows are persisted: they feed both
    self-join sides (and the hot-shingle counts under max_df) — without
    the cache each consumer re-tokenizes and re-shingles the corpus.
    Plain evictable cache, lineage retained."""
    sh = pin(exploded_shingles(df, key, content, n))
    extra = None
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_df)
            .select("shingle")
        )
        # the hot set is tiny by construction — broadcast anti-join
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
        # exact-duplicate recovery: identical shingle sets pair
        # regardless of how hot their shingles are (single groupBy on
        # the set hash; quadratic only within true-duplicate clusters)
        sig = with_shingles(df, content, n, "_sh_arr").select(
            F.col(key),
            F.md5(
                F.concat_ws("\x1f", F.sort_array(F.col("_sh_arr")))
            ).alias("csig"),
        )
        sa, sb = sig.alias("sa"), sig.alias("sb")
        extra = sa.join(
            sb,
            (F.col("sa.csig") == F.col("sb.csig"))
            & (F.col(f"sa.{key}") < F.col(f"sb.{key}")),
        ).select(
            F.col(f"sa.{key}").alias("a"), F.col(f"sb.{key}").alias("b")
        )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("a"), F.col(f"b.{key}").alias("b"))
    )
    if extra is not None:
        pairs = pairs.unionByName(extra)
    return pairs.distinct()


def jaccard_verify(
    pairs: DataFrame, df: DataFrame, key: str, content: str, n: int = 3
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only.

    The per-doc shingle table is persisted: it hydrates BOTH pair
    endpoints, and without the cache each hydration join re-tokenizes
    and re-shingles the corpus. Plain evictable cache, lineage
    retained."""
    sh = pin(with_shingles(df, content, n, "sh").select(F.col(key), "sh"))
    out = (
        pairs.join(sh.withColumnRenamed(key, "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed(key, "b").withColumnRenamed("sh", "sh_b"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return out.select("a", "b", "jaccard")


SIMHASH_BITS = 60  # 15 hex chars of md5: fits signed int64 AND is
#                    reproducible in portable SQL (the DuckDB oracle
#                    computes the identical signature independently)


def simhash_signatures(df: DataFrame, key: str, content: str) -> DataFrame:
    """(key, sim): 60-bit SimHash of whitespace tokens — 100% JVM-native.

    Per-token hash = first 15 hex chars of md5 (60 bits); per bit b the
    accumulator is sum over tokens of +-count, folded map-side by a
    single groupBy with 60 conditional-sum aggregates (one shuffle, no
    Python, no explode-by-bit row blowup). Same algorithm as the usual
    64-bit SimHash, 4 bits narrower so an ANSI-SQL oracle can recompute
    it exactly.
    """
    toks = exploded_tokens(df, key, content)
    tc = toks.groupBy(key, "term").agg(F.count(F.lit(1)).alias("cnt"))
    th = tc.withColumn("h", md5_h60_col("term"))
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                F.col("cnt"),
            ).otherwise(-F.col("cnt"))
        ).alias(f"_b{b}")
        for b in range(SIMHASH_BITS)
    ]
    acc = th.groupBy(key).agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim + F.when(
            F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    sigs = acc.select(F.col(key), sim.alias("sim"))
    # zero-token documents have no rows after the explode; give them
    # signature 0 so trivially-identical empty docs still pair
    return (
        df.select(F.col(key))
        .join(sigs, key, "left")
        .select(F.col(key), F.coalesce(F.col("sim"), F.lit(0).cast("long")).alias("sim"))
    )


def simhash_pairs(
    df: DataFrame, key: str, content: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: band on 4 x 15-bit chunks (pigeonhole:
    hamming<=3 pairs differ in at most 3 chunks, so at least one of the 4
    is equal), verify with native bit_count(xor)."""
    withsim = simhash_signatures(df, key, content)
    # persisted before the self-join: each side would otherwise
    # re-derive the full signature build (tokenize → per-term counts →
    # the 60 conditional-sum aggregates) — the static plan carries that
    # subtree twice with no ReusedExchange. Plain evictable cache of
    # narrow (key, sim, chunk_id, chunk) rows, lineage retained.
    chunks = pin(withsim.select(
        key,
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sim"), i * 15).bitwiseAND(F.lit(0x7FFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_id", "chunk"),
    ))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(
            F.col(f"a.{key}").alias("a"),
            F.col(f"b.{key}").alias("b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    ).filter(F.col("hamming") <= max_hamming).select("a", "b", "hamming")


def cosine_col(a, b):
    """Exact cosine similarity of two array<float|double> columns —
    JVM-native left-fold (deterministic order)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


def embedding_near_dups(
    df: DataFrame,
    key: str,
    vec: str,
    planes: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: sign-LSH bucket on fixed
    hyperplanes, exact cosine verification within buckets."""
    sign_bits = [
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
    bucket = sign_bits[0]
    for b in sign_bits[1:]:
        bucket = bucket * 2 + b
    # row norms are computed ONCE per vector before the self-join (same
    # fold as cosine_col's, so dot / (na * nb) below is bit-identical);
    # the per-pair verify then folds a single dot product instead of
    # dot + two norms
    nv = F.sqrt(
        F.aggregate(
            F.col(vec),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    tagged = df.select(
        F.col(key), F.col(vec), bucket.alias("bucket"), nv.alias("_nv")
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col(f"a.{vec}"),
            F.col(f"b.{vec}"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .withColumn("cosine", dot / (F.col("a._nv") * F.col("b._nv")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{key}").alias("a"),
            F.col(f"b.{key}").alias("b"),
            "cosine",
        )
    )


def contamination_pairs(
    corpus: DataFrame,
    testset: DataFrame,
    key: str = "doc_id",
    content: str = "text",
    n: int = 3,
    w: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing winnowing
    fingerprints with an evaluation set.

    Returns (corpus_id, test_id, shared_fps) for every corpus/test pair
    sharing >= min_shared fingerprints. Winnowing's guarantee (Schleimer
    et al. '03) makes this sound for contamination: any verbatim run of
    >= n+w-1 shared tokens produces at least one shared fingerprint, so
    no long-enough copied span can slip through; min_shared > 1 trades
    that guarantee for precision on boilerplate-heavy corpora.

    Plan shape at 100 TB: the test set (benchmarks are tiny relative to
    a crawl) is exploded to fingerprints and BROADCAST; the corpus side
    is a map-only explode joined without any shuffle of corpus rows, and
    the final groupBy shuffles only matched (corpus_id, test_id) pairs —
    normally a vanishing fraction of the corpus.
    """
    from spider_engine_spark.functions.text_analysis import (
        exploded_winnowing_fingerprints,
    )

    a = exploded_winnowing_fingerprints(
        corpus.select(F.col(key).alias("corpus_id"), F.col(content)),
        "corpus_id", content, n, w,
    )
    b = exploded_winnowing_fingerprints(
        testset.select(F.col(key).alias("test_id"), F.col(content)),
        "test_id", content, n, w,
    )
    return (
        a.join(F.broadcast(b), "fp")
        .groupBy("corpus_id", "test_id")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= F.lit(min_shared))
    )


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    nodes: DataFrame | None = None,
    key: str = "node",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs: (node, component) with
    component = MIN node id in the component (deterministic canonical
    representative).

    This is the capstone of the dedup family: the pair generators
    (minhash_lsh_pairs / simhash_pairs / shared_shingle_pairs /
    embedding_near_dups) emit edges; clustering them picks ONE canonical
    document per duplicate cluster (transitively: A~B, B~C => {A,B,C}
    keep min).  The reference has no analogue (single-node engine); this
    is the standard MapReduce CC formulation (cf. Kiveris et al. 2014).

    Algorithm: min-label propagation with pointer jumping.  Each round
    (1) every node takes the min label over itself and its neighbors
    (edges join labels + groupBy min — two shuffles), then (2) jumps to
    its label's label (self-join — labels are node ids, so every label
    resolves).  Pointer jumping halves path lengths, so rounds are
    O(log diameter) — near-dup clusters are almost always stars/cliques
    (1-2 rounds); even a pathological chain of length 10^6 converges in
    ~20.  Labels are monotone non-increasing, which makes the
    convergence test exact: a round with zero strictly-smaller labels is
    a fixpoint.  Each round ends in a checkpoint (lineage would grow
    exponentially otherwise).  All JVM-native; AQE handles skewed hub
    nodes.

    checkpoint_dir=None (default) uses localCheckpoint: fastest, but
    lossy on executor loss — fine for a single-box session or when the
    caller retries the whole job.  At cluster scale pass a
    checkpoint_dir (HDFS/S3 path): rounds then use RELIABLE
    df.checkpoint() snapshots that survive executor loss, with no
    block-manager bookkeeping at all.  The dir is set via
    setCheckpointDir (session-global, like any Spark checkpoint user);
    superseded round snapshots are plain files under it — the caller
    owns the dir's lifecycle and deletes it once the returned labels
    are materialized.

    `nodes` (single-column DataFrame named `key`) adds isolated nodes as
    singleton components; pair endpoints are always included regardless.

    In localCheckpoint mode, every intermediate snapshot is released as
    soon as the next round supersedes it; only the RETURNED label
    snapshot stays pinned, in the caller's pins.scope().
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def snap(df: DataFrame) -> DataFrame:
            return df.checkpoint()

    else:

        def snap(df: DataFrame) -> DataFrame:
            return pin(df, snapshot=True)

    und = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    # pin the edge list: it is re-joined EVERY round, and the pair
    # generator feeding it (minhash/simhash verify) is the expensive
    # part — without this the candidate pipeline re-runs per round
    # (measured 11.1 s -> ~7 s for dedup_clusters at sf0.1)
    und = snap(
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    endpoints = und.select(F.col("src").alias(key)).distinct()
    if nodes is not None:
        endpoints = nodes.select(key).unionByName(endpoints).distinct()
    lab = snap(endpoints.select(F.col(key), F.col(key).alias("comp")))
    for _ in range(max_iter):
        msgs = und.join(
            lab.select(F.col(key).alias("dst"), "comp"), "dst"
        ).select(F.col("src").alias(key), "comp")
        upd = (
            lab.select(key, "comp")
            .unionByName(msgs)
            .groupBy(key)
            .agg(F.min("comp").alias("comp"))
        )
        jump = upd.select(F.col(key).alias("_jk"), F.col("comp").alias("_jc"))
        upd = snap(
            upd.join(jump, upd["comp"] == jump["_jk"], "left")
            .select(F.col(key), F.coalesce("_jc", "comp").alias("comp"))
        )
        changed = (
            upd.select(F.col(key), F.col("comp").alias("_new"))
            .join(lab, key)
            .filter(F.col("_new") < F.col("comp"))
            .count()
        )
        release(lab)  # superseded snapshot
        lab = upd
        if changed == 0:
            release(und)
            return lab
    release(und)
    release(lab)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def canonical_corpus(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The end-to-end dedup materialization: given near-dup `pairs`
    (from any generator, verified or not), keep exactly one row per
    duplicate cluster — the MIN-key member — plus every non-duplicated
    row, preserving all input columns.

    Composition of connected_components + an anti-join: components are
    computed only over PAIR ENDPOINTS (never the full corpus), and
    non-canonical members become a drop-list anti-joined against the
    corpus.  The anti-join carries NO join-strategy hint on purpose:
    web-scale corpora routinely run 20-50% near-duplicates (that is why
    the dedup stage exists at all), so the drop-list can be billions of
    keys — a forced broadcast would OOM the driver/executors exactly on
    the workloads this engine targets.  Unhinted, the join shuffles
    both sides on `key` (the scale-safe plan), and AQE's runtime
    stats downgrade it to a broadcast anti-join automatically whenever
    the drop-list actually fits (spark.sql.adaptive.enabled +
    autoBroadcastJoinThreshold) — the small-drop-list fast path is
    preserved without baking in the unsafe assumption.

    The returned frame reads the component snapshot lazily, so that
    snapshot stays pinned in the caller's pins.scope(), as
    connected_components documents.  checkpoint_dir passes through to
    connected_components (reliable executor-loss-safe round snapshots
    for cluster runs)."""
    comp = connected_components(
        pairs, a="a", b="b", key=key, checkpoint_dir=checkpoint_dir
    )
    drop = comp.filter(F.col(key) != F.col("comp")).select(key)
    return df.join(drop, key, "left_anti")


def exact_substring_dedup(
    df: DataFrame,
    key: str,
    content: str,
    n: int = 8,
    out: str = "text_dedup",
    pos_bits: int = 20,
) -> DataFrame:
    """Exact substring (n-token span) deduplication — the ExactSubstr
    law of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed for Spark: every occurrence of any
    n-token window that appears more than once in the corpus is REMOVED
    except the globally-first occurrence; kept tokens are re-joined.
    Intra-document repeats dedup too (they are occurrences like any
    other).  The paper builds one suffix array over the concatenated
    corpus — inherently single-machine; the n-gram-window form
    distributes as plain relational algebra with the same
    any-duplicated-window-loses-its-copies semantics at n-token
    granularity.

    Law (oracle-exact, driver query `dedup_exact_substrings`):
    tokens = whitespace split; windows at positions 0..L-n (docs with
    L < n untouched); window id = 120-bit md5 of the space-joined gram
    (two BIGINT halves — one 60-bit half expects real birthday
    collisions at corpus-scale window counts, silently deleting unique
    text); the kept occurrence of a duplicated window is
    min(key*2^pos_bits + pos) — (key, pos) lexicographic via one
    BIGINT, so `key` must be numeric and non-negative, positions must
    fit pos_bits and keys 63-pos_bits bits (~1M tokens/doc and ~8.8e12
    keys at the default; tune pos_bits — the law, not a limit of the
    plan).  A token is removed iff some non-kept duplicated-window
    occurrence of its document covers it.

    Plan shape at 100 TB: one posexplode of precomputed gram hashes
    (~one row per corpus token; the hash array is a materialized ladder
    column so the generator cannot re-expand the tokenize — PLANS.md
    round-5 trap), one groupBy(gram) keeping (count, min packed id) —
    hot boilerplate grams are bounded by AQE skew handling and carry
    only two aggregates, one join back of DUPLICATED occurrences only
    (proportional to duplicated content, not the corpus), one
    groupBy(key) collecting removal starts (bounded by the doc's own
    window count), and a map-side rebuild.  The rebuild merges the
    sorted starts into disjoint covered intervals and emits the
    complement — O(L + |intervals|) per doc, so even a fully-
    boilerplate doc (every window duplicated) rebuilds in one linear
    pass instead of the former O(L²/n) per-token × per-start mask.
    """
    if n < 2:
        raise ValueError(f"span length n must be >= 2, got {n}")
    from pyspark.sql.types import IntegralType

    key_type = df.schema[key].dataType
    if not isinstance(key_type, IntegralType):
        # a string key would cast('long') to NULL, making every packed
        # id NULL and the `!= first` filter silently remove NOTHING —
        # wrong output with no error. Fail loudly instead.
        raise TypeError(
            f"exact_substring_dedup needs a numeric key (the packed "
            f"(key,pos) ordering law); {key!r} is {key_type.simpleString()}"
            f" — pre-map string keys to a BIGINT (e.g. xxhash64)"
        )
    from spider_engine_spark.functions.text_analysis import (
        _pos_ngrams,
        tokens,
    )

    toks = "_xs_toks"
    # ladder: tokens, then the positional gram-hash array, materialized
    # as columns so the explode below references attributes
    d = df.select(
        F.col(key), F.col(content).alias("_xs_text"),
    ).withColumn(
        # NULL text = zero tokens (size(NULL) is -1, not 0)
        toks,
        F.coalesce(
            tokens(F.col("_xs_text")), F.array().cast("array<string>")
        ),
    ).withColumn(
        # one md5 per window, materialized BEFORE the halves are split
        # (two F.md5 calls in one lambda would hash every window twice)
        "_xs_md5s",
        F.transform(_pos_ngrams(F.col(toks), n), F.md5),
    ).withColumn(
        # 120-bit window ids (two BIGINT halves): at corpus scale the
        # window count is ~one per token, where a single 60-bit id
        # expects real birthday collisions (silently deleting unique
        # text); 2^120 puts the expectation at ~1e-11 even for 10^13
        # windows. Same law as paragraph_dedup / md5_h120_cols.
        "_xs_grams",
        F.transform(
            F.col("_xs_md5s"),
            lambda h: F.struct(
                F.conv(F.substring(h, 1, 15), 16, 10)
                .cast("long")
                .alias("g1"),
                F.conv(F.substring(h, 16, 15), 16, 10)
                .cast("long")
                .alias("g2"),
            ),
        ),
    ).drop("_xs_md5s")
    # the ladder feeds THREE consumers (the dup aggregation, the
    # duplicated-occurrences join side, and the rebuild join) — without
    # a cache each one re-tokenizes and re-hashes the corpus (the md5
    # transform is the expensive rung). Plain evictable cache, lineage
    # retained; the intermediate _xs_md5s column is dropped first so
    # the cached bytes are tokens + gram ids only.
    d = pin(d)
    occ = d.select(
        F.col(key),
        F.posexplode_outer("_xs_grams").alias("pos", "g"),
    ).filter(F.col("g").isNotNull())
    # per-row overflow guard: a pos bleeding into the key bits (or a
    # key*2^pos_bits overflowing BIGINT) would corrupt the (key,pos)
    # order and keep the WRONG occurrence — fail loudly (vectorized
    # predicate; raise_error only fires on overflow)
    _xs_max_key = (1 << (63 - pos_bits)) - 1
    packed = F.when(
        (F.col("pos") < F.lit(1 << pos_bits))
        & F.col(key).cast("long").between(0, _xs_max_key),
        F.col(key).cast("long") * F.lit(1 << pos_bits).cast("long")
        + F.col("pos"),
    ).when(
        # the outer-explode NULL row of a short/empty doc: Catalyst may
        # hoist this projection above the g-isNotNull filter, so the
        # guard must not fire on it (the row is dropped regardless)
        F.col("pos").isNull(),
        F.lit(None).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"exact_substring_dedup: (key, pos) exceeds the "
                    f"packed-BIGINT law (pos < 2^{pos_bits}, 0 <= key "
                    f"<= {_xs_max_key}; tune pos_bits) in doc "
                ),
                F.col(key).cast("string"),
            )
        ).cast("long")
    )
    occ = occ.select(key, "pos", "g", packed.alias("_xs_id"))
    dup = occ.groupBy("g").agg(
        F.count(F.lit(1)).alias("_xs_c"),
        F.min("_xs_id").alias("_xs_first"),
    ).filter(F.col("_xs_c") > 1)
    removed = (
        occ.join(dup, "g")
        .filter(F.col("_xs_id") != F.col("_xs_first"))
        .groupBy(key)
        .agg(F.sort_array(F.collect_list("pos")).alias("_xs_starts"))
    )
    r = d.join(removed, key, "left")
    starts = F.col("_xs_starts")
    # Interval-merge rebuild, O(L + |intervals|) per doc: the former
    # per-token × per-start mask (filter every index t against every
    # removal start) was O(L·|starts|) inside ONE row — O(L²/n) on a
    # fully-boilerplate doc, a single-task straggler on exactly the
    # inputs this operator targets. Instead merge the (sorted, distinct)
    # removal starts into disjoint covered intervals [lo, hi) and emit
    # the complement gaps. All windows have length n and starts ascend,
    # so the running interval's end after start i-1 is starts[i-1] + n:
    # start i OPENS a new interval iff it begins past that end, and
    # CLOSES its interval iff the next start opens a new one. F.get is
    # 0-based and yields NULL out of bounds (no ANSI error at the array
    # edges); TRUE OR NULL = TRUE keeps the edge elements.
    _open = lambda s, i: (i == F.lit(0)) | (
        s > F.get(starts, i - 1) + F.lit(n)
    )
    los = F.filter(starts, _open)
    his = F.transform(
        F.filter(
            starts,
            lambda s, i: (i == F.size(starts) - 1)
            | (F.get(starts, i + 1) > s + F.lit(n)),
        ),
        lambda s: s + F.lit(n),
    )
    # kept indices = the gap before each interval plus the tail gap:
    # gap j spans [prev_hi_j, lo_j) with prev_hi_0 = 0 and a final gap
    # [hi_last, L). sequence() is guarded (empty when the gap is empty)
    # because an inverted sequence(a, b) with b < a counts DOWN.
    gap_lo = F.concat(F.array(F.lit(0)), his)
    gap_hi = F.concat(
        F.transform(los, lambda lo: lo - 1),
        F.array(F.size(toks) - 1),
    )
    kept_idx = F.flatten(
        F.zip_with(
            gap_lo,
            gap_hi,
            lambda a, b: F.when(a <= b, F.sequence(a, b)).otherwise(
                F.array().cast("array<int>")
            ),
        )
    )
    rebuilt = F.concat_ws(
        " ", F.transform(kept_idx, lambda t: F.element_at(toks, t + 1))
    )
    return r.select(
        F.col(key),
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(starts.isNotNull(), F.size(kept_idx))
        .otherwise(F.size(toks))
        .cast("long")
        .alias("n_kept"),
        F.when(starts.isNotNull(), rebuilt)
        .otherwise(F.col("_xs_text"))
        .alias(out),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    key: str,
    vec: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    embeddings are coarse-quantized to their nearest centroid
    (similarity.ivf_assign — the same JVM argmax-cosine the IVF index
    uses) and exact cosine runs only WITHIN each cluster; a pair is
    (a, b), a < b, with cosine >= threshold.

    Scale shape: one shuffle on the cluster id, then a per-cluster
    self-join. The within-cluster work is quadratic in cluster size BY
    DESIGN — SemDeDup's contract is that k is chosen so clusters hold
    ~10^3-10^4 points (k ≈ N / desired_cluster_size), which bounds each
    task at millions of JVM-native cosines, embarrassingly parallel
    across clusters. `max_cluster` guards the skew failure mode (one
    degenerate centroid swallowing the corpus): clusters above the cap
    are EXCLUDED from pairing (documented recall trade, mirroring
    shared_shingle_pairs' hot-shingle cap) — at web scale prefer
    re-fitting with larger k over raising the cap. The size side of
    that join is <= k rows, hence broadcast."""
    return _semantic_pairs(df, key, vec, centroids, threshold, max_cluster)[0]


def _semantic_pairs(
    df: DataFrame,
    key: str,
    vec: str,
    centroids: list[list[float]],
    threshold: float,
    max_cluster: int | None,
) -> tuple[DataFrame, DataFrame]:
    """semantic_dedup_pairs' pairs, plus the pinned assignment frame
    they read (so semantic_dedup can release it early)."""
    from spider_engine_spark.operators.similarity import ivf_assign

    # the assignment pass (k cosine folds per row) feeds BOTH sides of
    # the self-join (plus the sizes agg under max_cluster) — persist it
    # so it computes once. Plain evictable cache, lineage retained
    # (executor-loss-safe).
    # keep_norm: the row norms ride in the cache so the pair filter
    # below folds ONE dot product per pair instead of dot + two norms
    # (bit-identical — dot / (na * nb) with the same fold shapes).
    cached = pin(
        ivf_assign(df.select(key, vec), key, vec, centroids, keep_norm="_nv")
    )
    assigned = cached
    if max_cluster is not None:
        sizes = assigned.groupBy("ivf_list").agg(
            F.count(F.lit(1)).alias("_sz")
        )
        assigned = (
            assigned.join(F.broadcast(sizes), "ivf_list")
            .filter(F.col("_sz") <= F.lit(int(max_cluster)))
            .drop("_sz")
        )
    a = assigned.select(
        "ivf_list",
        F.col(key).alias("a"),
        F.col(vec).alias("_va"),
        F.col("_nv").alias("_na"),
    )
    b = assigned.select(
        "ivf_list",
        F.col(key).alias("b"),
        F.col(vec).alias("_vb"),
        F.col("_nv").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("_va"),
            F.col("_vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, "ivf_list")
        .filter(F.col("a") < F.col("b"))
        .filter(
            (dot / (F.col("_na") * F.col("_nb")))
            >= F.lit(float(threshold))
        )
        .select("a", "b")
    )
    return pairs, cached


def semantic_dedup(
    df: DataFrame,
    key: str,
    vec: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    max_cluster: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Semantic deduplication end-to-end: SemDeDup within-cluster pairs
    -> connected components -> keep one row per semantic-duplicate
    group. Returns the kept rows of `df` (all columns).

    Representative law: the MIN key of each component survives — the
    same deterministic rule as the rest of the dedup family
    (canonical_corpus), deviating from the paper's keep-lowest-
    centroid-similarity heuristic so results are reproducible
    independent of the fitted centroids. checkpoint_dir as in
    connected_components (reliable snapshots for cluster runs)."""
    pairs, assigned = _semantic_pairs(
        df, key, vec, centroids, threshold, max_cluster
    )
    kept = canonical_corpus(
        df, pairs, key=key, checkpoint_dir=checkpoint_dir
    )
    # connected_components snapped the edge list EAGERLY inside
    # canonical_corpus, so the assignment cache has served its purpose
    # — release it (the returned frame reads only df + the component
    # snapshot, never the pairs pipeline)
    release(assigned)
    return kept


def paragraph_dedup(
    df: DataFrame,
    key: str,
    content: str,
    sep: str = "\n",
    pos_bits: int = 20,
) -> DataFrame:
    """Corpus-level exact duplicated-paragraph removal — the
    paragraph-granularity member of the exact-dedup family (C4 dedups
    three-sentence spans, RefinedWeb/Dolma dedup paragraphs; this is
    the same keep-the-first-occurrence law at separator-delimited
    granularity, complementing exact_substring_dedup's n-token
    windows). A paragraph occurring more than once ACROSS THE CORPUS
    survives only at its globally-first occurrence — smallest
    (key, position), packed into one BIGINT exactly as
    exact_substring_dedup does (numeric key required; positions must
    fit pos_bits and keys 63-pos_bits bits — both guarded loudly).
    Unique paragraphs always survive. Documents are reassembled in
    original order; a document whose every paragraph loses comes back
    as ''; NULL content means zero paragraphs.  `sep` is a LITERAL
    separator (regex-quoted for the split, joined back verbatim).

    Returns (key, n_lines, n_kept, text_deduped).

    Scale shape at 100 TB: one posexplode (map-side), one
    groupBy(paragraph-hash) keeping (count, min packed id) — map-side
    combinable, so viral boilerplate paragraphs reduce to one row per
    partition before the shuffle — then a join back of DUPLICATED
    occurrences only (proportional to duplicated content, not the
    corpus; AQE skew-join bounds hot paragraphs), and one groupBy(key)
    rebuild. Grouping is on the 120-bit md5 of the paragraph (two
    BIGINT halves, functions/hashes.md5_h120_cols) so shuffle rows
    carry 16-byte keys, not page-length strings — 60 bits would expect
    ~40 birthday collisions (silent unique-paragraph deletions) at
    10^10 distinct paragraphs; 120 bits expects ~4e-17."""
    from pyspark.sql.types import IntegralType

    key_type = df.schema[key].dataType
    if not isinstance(key_type, IntegralType):
        raise TypeError(
            f"paragraph_dedup needs a numeric key (the packed (key,pos)"
            f" first-occurrence law); {key!r} is "
            f"{key_type.simpleString()} — pre-map string keys to BIGINT"
        )
    if "\\E" in sep:
        raise ValueError(r"sep must not contain \E (regex quoting)")
    from spider_engine_spark.functions.hashes import md5_h120_cols

    sep_rx = "\\Q" + sep + "\\E"  # literal-separator law
    d = df.select(F.col(key), F.col(content).alias("_pd_text"))
    occ = d.select(
        F.col(key),
        F.posexplode(F.split("_pd_text", sep_rx)).alias("pos", "line"),
    ).withColumn("_pd_md5", F.md5("line"))
    g1, g2 = md5_h120_cols("_pd_md5")
    occ = occ.withColumn("_pd_g1", g1).withColumn("_pd_g2", g2).drop(
        "_pd_md5"
    )
    max_key = (1 << (63 - pos_bits)) - 1
    packed = F.when(
        (F.col("pos") < F.lit(1 << pos_bits))
        & F.col(key).cast("long").between(0, max_key),
        F.col(key).cast("long") * F.lit(1 << pos_bits).cast("long")
        + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"paragraph_dedup: (key, pos) exceeds the packed-"
                    f"BIGINT law (pos < 2^{pos_bits}, 0 <= key <= "
                    f"{max_key}; tune pos_bits) in doc "
                ),
                F.col(key).cast("string"),
            )
        ).cast("long")
    )
    # occ feeds the dup aggregation, the losers join side AND the
    # anti-join left side — without a cache each consumer re-splits and
    # re-hashes every paragraph. Plain evictable cache, lineage
    # retained.
    occ = pin(occ.withColumn("_pd_id", packed))
    dup = (
        occ.groupBy("_pd_g1", "_pd_g2")
        .agg(
            F.count(F.lit(1)).alias("_pd_c"),
            F.min("_pd_id").alias("_pd_first"),
        )
        .filter(F.col("_pd_c") > 1)
    )
    losers = (
        occ.select(key, "pos", "_pd_g1", "_pd_g2", "_pd_id")
        .join(dup, ["_pd_g1", "_pd_g2"])
        .filter(F.col("_pd_id") != F.col("_pd_first"))
        .select(key, "pos")
    )
    # drop is exact row identity, so a left_anti on (key, pos) is the
    # whole removal — no per-doc removal arrays needed (contrast
    # exact_substring_dedup, where windows COVER neighboring tokens)
    r = occ.join(losers, [key, "pos"], "left_anti")
    rebuilt = r.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda p: p["line"],
            ),
            sep,
        ).alias("text_deduped"),
    )
    base = d.select(
        F.col(key),
        # NULL content = zero paragraphs (size(split(NULL)) is NULL)
        F.when(F.col("_pd_text").isNull(), F.lit(0))
        .otherwise(F.size(F.split("_pd_text", sep_rx)))
        .alias("n_lines"),
    )
    return base.join(rebuilt, key, "left").select(
        F.col(key),
        F.col("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias(
            "n_kept"
        ),
        F.coalesce(F.col("text_deduped"), F.lit("")).alias(
            "text_deduped"
        ),
    )
