"""Inverted-index build / merge / probe as declarative DataFrame ops.

Reference semantics (/root/reference):
- I1 inverted add: tokenize + append DocNode  (core/index/invertedindex.go:95-148)
- I2 inverted persist: term -> sorted postings (invertedindex.go:284-346)
- I3 k-way partition merge: concat postings of equal terms in docId order
  (invertedindex.go:349-507)
- I8 god field: all string fields joined with '。', indexed as 'words'
  (core/partition/partition.go:241-288)

Spark-first design: a postings table `(field, term, df, postings:
array<struct<doc_id long, weight int>>)` built with
explode -> groupBy(field, term) -> sort_array(collect_list(struct(...))).
The single shuffle on (field, term) IS the reference's k-way merge: at
100 TB the same plan holds — partial collect per map task, shuffle by term
hash, AQE coalesces/splits skewed terms. Compaction of incrementally
appended postings snapshots is the same groupBy over a union
(merge_postings), matching invertedindex.go:349-507's semantics
(ascending doc_id order restored by sort_array).

doc_id is int64 (the reference's uint32 docId space, design.md:83-87,
widened); weight is int32 (uint32 TF fits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spider_engine_spark.functions.tokenizers import (
    PUNCTUATION,
    tokenize_cols_udf,
)

GOD_FIELD = "_god"  # reference GOD_FIELD_NAME, partition.go:25-27
GOD_JOIN = "。"  # partition.go:277-281

POSTING_STRUCT = "struct<doc_id:bigint,weight:int>"


# -- JVM-native tokenizer expressions --------------------------------
# The pandas-UDF tokenizer is bit-exact but pays the Arrow round trip
# and a Python loop per batch. For the subsets below the SAME semantics
# are expressible as whole-stage-codegen Column ladders, so those rows
# never leave the JVM (property-tested bit-equal to the Python
# splitters in tests/test_postings_search.py / test_properties.py):
#
# - T1 whole / T2 semicolon: native for ALL values (trivial laws).
# - T4 words: native for printable-ASCII content (plus the god-join
#   '。', which the punctuation filter drops). Outside that subset the
#   CJK dictionary max-match applies, which stays in Python; oversize
#   values also fall back (the per-doc distinct-count transform below
#   is O(uniq·tokens) per row — bounded by the length gate, and the
#   linear Python path is the better plan for pathological rows).
_ASCII_SIMPLE_RE = "^[\\x20-\\x7e。]*$"
_NATIVE_WORDS_MAX_CHARS = 4096
# one token per match: a maximal word run OR a single non-word char
# (faster than a wrap-with-separator regexp_replace + split: measured
# 0.7s vs 1.5s on the 89k-doc ingest corpus, vs 0.8-2.9s for the UDF)
_TOK_RE = "([A-Za-z0-9_]+|[^A-Za-z0-9_])"


def tf_weight_expr(cnt: Column, total: Column) -> Column:
    """THE native TF law: uint32(float32(cnt)/float32(total) * 10000)
    (common.go:149), single definition for every JVM path.

    Spark's Divide only operates on Double/Decimal, so a bare
    float/float division silently promotes to double and diverges from
    the float32 law (e.g. cnt=39,total=50: double gives 7800, float32
    gives 7799 — 188 divergent (cnt,total) pairs exist with total<=600).
    Emulating float32 per step is exact: double division of two
    float32-valued operands rounded back to float equals float32
    division (53 >= 2*24+2), and the product q*10000 is exact in double
    (24+14 significant bits), so its float cast equals the float32
    multiply. tf_weight (Python) and the DuckDB ::FLOAT oracle law both
    compute true float32; property-tested bit-equal across all three."""
    q = (cnt.cast("float") / total.cast("float")).cast("float")
    return (q * F.lit(10000.0)).cast("float").cast("int")


def _punct_array() -> Column:
    # built lazily: Column literals need an active SparkContext
    return F.array(*[F.lit(p) for p in sorted(PUNCTUATION)])


def _native_words_gate(col: Column) -> Column:
    return col.rlike(_ASCII_SIMPLE_RE) & (
        F.length(col) <= F.lit(_NATIVE_WORDS_MAX_CHARS)
    )


def python_tokens_law(fields: dict[str, str]) -> Column:
    """THE law of which rows need the Python tokenizer, for the fields
    and god field build_token_stream tokenizes: true for a row when a
    non-NULL words value — an indexed words field, or the god column —
    fails _native_words_gate, or when an indexed field's mode has no
    native law (rune). NULL needs no check: it yields no tokens on
    either path. A frame where the law is false on every row can be
    tokenized with python=False (field_tokens) and give the same
    tokens."""
    if any(m not in ("whole", "semicolon", "words") for m in fields.values()):
        return F.lit(True)
    words = [F.col(f) for f, m in fields.items() if m == "words"]
    if fields:
        words.append(god_column(list(fields)))
    need = F.lit(False)
    for c in words:
        need = need | (c.isNotNull() & ~_native_words_gate(c))
    return need


def _native_words_tw(df: DataFrame, doc_id: str, field: str) -> DataFrame:
    """(doc_id, tw) for printable-ASCII content — pure JVM.

    segment() on this subset reduces to: maximal [A-Za-z0-9_] runs are
    words, every other char is a single-char token; the punctuation
    table then drops separators. Built as a projection ladder (each rung
    computed once) — a single fused expression would inline the
    split+regexp tree into every lambda and recompute it per element
    (Column expressions are trees, not DAGs).

    Term frequencies come from RUN LENGTHS over the sorted token array
    — O(t log t + t) per row — replacing the former per-unique-token
    count scan (filter the whole array once per distinct token,
    O(uniq·tokens) per row: the dominant per-row cost of the catalog
    ingest's tokenize stage). Values are unchanged — each run length IS
    that token's count and total is the same token-array size — only
    the order of (terms, weights) inside the per-doc arrays changes
    (sorted instead of first-occurrence), which no consumer observes:
    field_tokens explodes the zip into rows and every downstream
    aggregation is order-insensitive."""
    # keep-rule: every punctuation-table entry is a single character (or
    # ''), and multi-char tokens here are always [A-Za-z0-9_]+ word runs
    # — so length > 1 short-circuits the 37-literal array_contains scan
    # for the common case
    punct = _punct_array()
    toks = F.filter(
        F.regexp_extract_all(F.col(field), F.lit(_TOK_RE), 1),
        lambda t: (F.length(t) > 1) | ~F.array_contains(punct, t),
    )
    d = df.select(
        F.col(doc_id).cast("long").alias("doc_id"), toks.alias("_toks")
    )
    d = d.select("doc_id", "_toks", F.array_sort("_toks").alias("_sorted"))
    # run starts: indices whose sorted token differs from its
    # predecessor. F.get is 0-based and NULL out of bounds, so i=0
    # passes via TRUE OR NULL; the empty array is special-cased because
    # sequence(0, -1) would count DOWN.
    starts = F.when(
        F.size("_sorted") == 0, F.array().cast("array<int>")
    ).otherwise(
        F.filter(
            F.sequence(F.lit(0), F.size("_sorted") - 1),
            lambda i: (i == F.lit(0))
            | (F.get("_sorted", i) != F.get("_sorted", i - 1)),
        )
    )
    d = d.select("doc_id", "_toks", "_sorted", starts.alias("_starts"))
    uniq = F.transform("_starts", lambda i: F.get("_sorted", i))
    # tf_weight_expr — the shared float32 law; cnt = run length (next
    # start, or the array end for the last run, minus this start);
    # total > 0 whenever _starts is non-empty, so the division never
    # sees 0/0.
    weights = F.transform(
        "_starts",
        lambda s, j: tf_weight_expr(
            F.coalesce(F.get("_starts", j + 1), F.size("_sorted")) - s,
            F.size("_toks"),
        ),
    )
    return d.select(
        "doc_id",
        F.struct(uniq.alias("terms"), weights.alias("weights")).alias("tw"),
    )


def _native_tw(df: DataFrame, doc_id: str, field: str, mode: str) -> DataFrame:
    """(doc_id, tw) for the fully-native modes (whole/semicolon).

    Null content emits no tokens on either path, so null rows are simply
    dropped (the UDF's [] explodes to nothing)."""
    d = df.filter(F.col(field).isNotNull())
    did = F.col(doc_id).cast("long").alias("doc_id")
    if mode == "whole":
        # T1 — common.go:86-94: the whole string is one term, weight 0
        # (empty string included)
        return d.select(
            did,
            F.struct(
                F.array(F.col(field)).alias("terms"),
                F.array(F.lit(0)).alias("weights"),
            ).alias("tw"),
        )
    # T2 — common.go:97-107: split on ';', dedup keeping first occurrence
    # (array_distinct preserves first-occurrence order)
    d = d.select(did, F.array_distinct(F.split(F.col(field), ";")).alias("_u"))
    return d.select(
        "doc_id",
        F.struct(
            F.col("_u").alias("terms"),
            F.transform("_u", lambda _: F.lit(0)).alias("weights"),
        ).alias("tw"),
    )


def field_tokens(
    df: DataFrame, doc_id: str, field: str, mode: str, python: bool = True
) -> DataFrame:
    """I1: one (doc_id, field, term, weight) row per token occurrence.

    Hybrid dispatch: whole/semicolon run fully native; words content
    passing the printable-ASCII gate runs native, the rest (CJK,
    oversize) through the pandas UDF. The UDF emits parallel primitive
    arrays (terms, weights) rather than array<struct>: the Arrow
    transfer of primitive lists is several times cheaper than
    list-of-dict, and arrays_zip+explode is JVM-side.

    python=False leaves the words fallback branch out of the plan, so
    no Python worker starts. Pass it only when python_tokens_law is
    false on every row of df: a row failing the gate would otherwise
    yield no tokens. A rune field has no native law and always runs
    the UDF."""
    if mode in ("whole", "semicolon"):
        tokked = _native_tw(df, doc_id, field, mode)
    elif mode == "words":
        gate = _native_words_gate(F.col(field))
        tokked = _native_words_tw(df.filter(gate), doc_id, field)
        if python:
            tokked = tokked.unionByName(
                df.filter(~F.coalesce(gate, F.lit(False))).select(
                    F.col(doc_id).cast("long").alias("doc_id"),
                    tokenize_cols_udf(mode)(F.col(field)).alias("tw"),
                )
            )
    else:
        tokked = df.select(
            F.col(doc_id).cast("long").alias("doc_id"),
            tokenize_cols_udf(mode)(F.col(field)).alias("tw"),
        )
    # explode_outer + output null-check: plain explode's inferred size>0
    # filter re-materializes the arrays_zip per row without pruning
    # anything (it cannot cross the Arrow/native-tw projection)
    return tokked.select(
        F.lit(field).alias("field"),
        F.explode_outer(F.arrays_zip("tw.terms", "tw.weights")).alias("tok"),
        "doc_id",
    ).filter(F.col("tok").isNotNull()).select(
        "field",
        F.col("tok.terms").alias("term"),
        "doc_id",
        F.col("tok.weights").alias("weight"),
    )


def god_column(string_fields: list[str]) -> Column:
    """I8: concat of all string-typed fields with '。' (partition.go:277-281).

    The reference joins values in field order; missing fields read as ''
    (partition.go:246-250) — coalesce preserves that.
    """
    cols = [F.coalesce(F.col(c), F.lit("")) for c in string_fields]
    return F.concat_ws(GOD_JOIN, *cols)


def build_token_stream(
    df: DataFrame,
    doc_id: str,
    fields: dict[str, str],
    god: bool = True,
    python: bool = True,
) -> DataFrame:
    """Tokenize every indexed field (+ god field) into one token stream.

    fields: {column_name: splitter_mode}; only string fields get inverted
    indexes in the reference (README.md:29 — numbers are forward-only).

    The god field (I8) tokenizes the '。'-joined concat of all string
    fields a second time in Python. Measured trade (BENCH/BASELINE.md):
    deriving god counts from a shared counted token stream instead costs
    two extra shuffles + a materialization of the full token stream and
    is strictly slower on 32 cores — and at 1000 executors the double
    tokenize scales embarrassingly-parallel while shuffle bytes are the
    scarce resource, so the single-shuffle shape is kept deliberately.

    python is field_tokens' flag, for every words field and the god
    field alike.
    """
    parts = [
        field_tokens(df, doc_id, f, m, python) for f, m in fields.items()
    ]
    if god and fields:
        god_df = df.select(
            F.col(doc_id).cast("long").alias("doc_id"),
            god_column(list(fields)).alias(GOD_FIELD),
        )
        parts.append(
            field_tokens(god_df, "doc_id", GOD_FIELD, "words", python)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def aggregate_postings(
    tokens: DataFrame, doc_buckets: int | None = None
) -> DataFrame:
    """I2: token stream -> (field, term[, bucket], df, postings sorted by
    doc_id).

    doc_buckets shards each term's posting list by hash(doc_id): hot terms
    (stopwords at 100 TB) would otherwise funnel into one task building
    one giant array — the reference has the same sharding implicitly via
    its per-partition indexes (design.md:76-79). Probe semantics are
    unchanged (query_term unions buckets)."""
    if doc_buckets:
        return tokens.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(doc_buckets)).cast("int"),
        ).groupBy("field", "term", "bucket").agg(
            F.count("doc_id").alias("df"),
            F.sort_array(
                F.collect_list(F.struct("doc_id", "weight"))
            ).alias("postings"),
        )
    return tokens.groupBy("field", "term").agg(
        F.count("doc_id").alias("df"),
        F.sort_array(
            F.collect_list(F.struct("doc_id", "weight"))
        ).alias("postings"),
    )


def build_postings(
    df: DataFrame,
    doc_id: str,
    fields: dict[str, str],
    god: bool = True,
    python: bool = True,
) -> DataFrame:
    """I1+I2: the postings of df's indexed fields (and god field).

    python=True (the default) plans the Python tokenizer fallback for
    every words field; python=False leaves it out and is exact only
    when python_tokens_law(fields) is false on every row of df
    (field_tokens)."""
    return aggregate_postings(
        build_token_stream(df, doc_id, fields, god, python)
    )


def build_postings_native(
    df: DataFrame, doc_id: str, field: str, delimiter: str = " "
) -> DataFrame:
    """Pure-JVM fast path for delimiter-separated corpora (no Python).

    Reproduces T4 whitespace semantics and the float32 TF law using Spark
    FloatType (float32) arithmetic — whole-stage-codegen throughout; this is
    the 100 TB path for latin text. Empty tokens (double delimiters) are
    dropped, matching the punctuation filter's removal of '' / ' ' tokens.

    Single-pass shape: the per-doc token total is the SIZE of the
    filtered token array, computed in-row BEFORE the explode and carried
    through it — the former two-level agg (per-term counts JOIN per-doc
    totals) scanned and split every document TWICE and paid a third
    exchange for the join. Carrying `total` as a grouping column is free
    (it is functionally dependent on doc_id), and a downstream term
    filter (the search probe) now pushes through BOTH aggregates to sit
    directly on the generator output — a probed term aggregates only its
    own occurrences instead of re-counting the corpus.
    """
    # explode_outer, not explode: plain explode's inferred size>0 filter
    # (InferFiltersFromGenerate) re-splits the full text a second time
    # per row; the isNotNull filter on the generator OUTPUT drops the
    # NULL rows outer-explode emits for empty/null token arrays.
    d = df.select(
        F.col(doc_id).cast("long").alias("doc_id"),
        F.filter(
            F.split(F.col(field), delimiter), lambda t: t != ""
        ).alias("_toks"),
    )
    toks = (
        d.select(
            "doc_id",
            F.size("_toks").alias("total"),
            F.explode_outer("_toks").alias("term"),
        )
        .filter(F.col("term").isNotNull())
    )
    per_term = toks.groupBy("doc_id", "total", "term").agg(
        F.count("*").alias("cnt")
    )
    weighted = per_term.select(
        F.lit(field).alias("field"),
        "term",
        "doc_id",
        # tf_weight_expr — the shared float32 law (common.go:149)
        tf_weight_expr(F.col("cnt"), F.col("total")).alias("weight"),
    )
    return aggregate_postings(weighted)


def merge_postings(*snapshots: DataFrame) -> DataFrame:
    """I3: compaction of postings snapshots — union + re-groupBy.

    flatten(collect_list) then re-sort restores global doc_id order, the
    invariant invertedindex.go:349-507 maintains with its k-way heap merge;
    here the shuffle does the merge.
    """
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    keys = ["field", "term"] + [
        c for c in ("bucket", "term_bucket") if c in out.columns
    ]
    return out.groupBy(*keys).agg(
        F.sum("df").alias("df"),
        F.sort_array(F.flatten(F.collect_list("postings"))).alias("postings"),
    )


TERM_BUCKETS = 64  # hive partitions of the at-rest postings table


def term_bucket_expr(term: Column | str, n: int) -> Column:
    """THE term-bucket hash: every writer and prober must use this one
    expression — a mismatched hash or modulus silently prunes away the
    true bucket."""
    c = F.col(term) if isinstance(term, str) else term
    return F.pmod(F.xxhash64(c), F.lit(n)).cast("int")


def with_term_bucket(postings: DataFrame, n: int = TERM_BUCKETS) -> DataFrame:
    """Add the at-rest partition column. Written with
    partitionBy('term_bucket'), a term probe prunes to 1/n of the
    files — the parquet analogue of the reference's btree term lookup."""
    return postings.withColumn("term_bucket", term_bucket_expr("term", n))


def query_term(
    postings: DataFrame,
    field: str,
    term: str,
    term_buckets: int = TERM_BUCKETS,
) -> DataFrame:
    """Q1: term probe -> (doc_id, weight) rows.

    When the postings table carries the at-rest term_bucket partition
    column the probe filters on it first — Spark prunes the partition
    dirs before any IO (the analogue of the reference's btree get + mmap
    block read, invertedindex.go:154-178).

    term_buckets MUST be the modulus the table was bucketed with
    (with_term_bucket's n, carried in table meta); a mismatched modulus
    would silently prune away the true bucket.
    """
    if "term_bucket" in postings.columns:
        postings = postings.filter(
            F.col("term_bucket") == term_bucket_expr(F.lit(term), term_buckets)
        )
    return (
        postings.filter((F.col("field") == field) & (F.col("term") == term))
        .select(F.explode("postings").alias("p"))
        .select(F.col("p.doc_id").alias("doc_id"), F.col("p.weight").alias("weight"))
    )


def multi_term_or(
    postings: DataFrame,
    field: str,
    terms: list[str],
    max_doc: int,
    term_buckets: int = TERM_BUCKETS,
) -> DataFrame:
    """Scored multi-term OR: docs containing ANY term, score = sum over
    matched terms of the per-term TF-IDF.

    A Spark-native EXTENSION loosely inspired by — not equivalent to —
    the reference's commented-out legacy multi-query loop
    (/root/reference/engine/search/search.go:263-320): that loop is a
    sorted-list INTERSECTION (AND semantics, InteractionWithStartAndDf,
    search.go:228-261) whose accumulator applies a different weight law
    (w += uint32(float64(w)*idf)). Here: one pruned partition probe per
    term, union, then a single groupBy(doc_id) sum — the shuffle replaces
    the merge loops, and each per-term score uses the same law as
    single-term search (table.go:1116-1123) with df = the term's own
    posting-list length. Duplicate query terms are deduplicated at entry
    (a double-probed term would double both df and the summed score).
    """
    from spider_engine_spark.operators.search import tfidf_score

    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("multi_term_or needs at least one term")
    probes = None
    for t in terms:
        p = query_term(postings, field, t, term_buckets=term_buckets)
        p = p.withColumn("term", F.lit(t))
        probes = p if probes is None else probes.unionByName(p)
    # per-term df from the union itself (one shuffle, tiny result) — at
    # scale this can equally come from the postings df column; both equal
    # |posting list| for an unfiltered probe
    dfs = probes.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    scored = probes.join(F.broadcast(dfs), "term").withColumn(
        "score", tfidf_score(F.col("weight"), max_doc, F.col("df_"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("score").alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .select("doc_id", "n_terms", "score")
    )


def multi_term_and(
    postings: DataFrame,
    field: str,
    terms: list[str],
    term_buckets: int = TERM_BUCKETS,
) -> DataFrame:
    """Multi-term AND: docs containing ALL terms, with summed weights.

    The reference only ships single-term search (table.go:974); its
    legacy code contains the sorted posting-list intersection
    (search/search.go:228-261, a two-pointer sort-merge semi-join).
    Spark-first: probe each term's postings and GROUP BY doc_id HAVING
    count(distinct term) = N — the shuffle does the intersection, and at
    scale each probe is a pruned partition read. Duplicate query terms
    are deduplicated at entry (countDistinct could otherwise never reach
    len(terms) and the result would silently be empty).
    """
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("multi_term_and needs at least one term")
    probes = None
    for t in terms:
        p = query_term(
            postings, field, t, term_buckets=term_buckets
        ).withColumn("term", F.lit(t))
        probes = p if probes is None else probes.unionByName(p)
    return (
        probes.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("weight").alias("sum_weight"),
        )
        .filter(F.col("n_terms") == len(terms))
        .select("doc_id", "sum_weight")
    )
