"""Search pipeline Q1-Q10: probe -> anti-join -> filters -> TF-IDF -> rank
-> paginate -> hydrate.

Reference: /root/reference/core/table/table.go:974-1072 (lifecycle),
core/partition/partition.go:681-750 (per-partition search),
core/index/forwardindex.go:564-644 (filter evaluation).

Reference quirks reproduced deliberately (bit-parity with its tests):
- numeric '>' and '<' actually evaluate >= and <= (forwardindex.go:583-586);
- numeric sentinel: values v with v & MaxInt64 == MaxInt64 (i.e. v == 2^63-1
  or v == -1) are excluded from every numeric match EXCEPT 'not in', where
  the sentinel guard sits inside the loop so sentinel rows pass
  (forwardindex.go:593-607);
- missing values are excluded from every filter (GetInt/GetString !ok);
  missing strings are stored as '' (partition.go:246-250) so string ops
  compare against '';
- TF-IDF: df = |result set after filters|, idf = log10(maxdoc/df),
  score = uint32(weight/10000 * idf * 1000) (table.go:1116-1123);
- pagination: invalid or out-of-range (offset,size) clamps to
  (0, min(100, total)) (table.go:1029-1039);
- the reference's rank sort is unstable on ties (table.go:1126-1131); we
  add an ascending doc_id tiebreak so results are deterministic
  (SURVEY.md §7.3 risk 3).

Scale notes: one search is one lazy plan with no driver action before
the caller's collect. The probe is a pruned scan of the postings table.
df is a count(1) window over the narrow filtered (doc_id, weight) rows,
so it runs in one task over every filtered candidate; a TakeOrdered to
the page bound (the reference clamps pages to 100) then feeds the
row_number window, and the hydration join broadcasts the ranked page.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spider_engine_spark.operators.postings import (
    GOD_FIELD,
    TERM_BUCKETS,
    multi_term_and,
    multi_term_or,
    query_term,
)

MAX_INT64 = (1 << 63) - 1
DEFAULT_PAGE = 100  # table.go:1030-1038


@dataclass
class SearchFilter:
    """One AND-ed predicate (basic/struct.go:24-50)."""

    field: str
    op: str  # =, !=, >, <, between, in, not in, prefix, suffix, contain
    value: object = None  # int or str for scalar ops
    begin: int | None = None  # between
    end: int | None = None
    values: Sequence[object] = dc_field(default_factory=tuple)  # in / not in


def _num_ok(c: Column) -> Column:
    # (MaxInt64 & value) != MaxInt64 — forwardindex.go:580
    return c.bitwiseAND(F.lit(MAX_INT64)) != F.lit(MAX_INT64)


def ntz_epoch_expr(c: Column) -> Column:
    """Wall-clock epoch seconds (floor) of a TIMESTAMP/TIMESTAMP_NTZ
    column, built from date/time components so the value is independent
    of the session timezone (a plain cast or unix_timestamp on NTZ is
    either rejected under ANSI or session-tz-shifted). The single shared
    implementation — queries.ntz_epoch delegates here."""
    return (
        F.unix_date(c.cast("date")).cast("long") * 86400
        + F.hour(c).cast("long") * 3600
        + F.minute(c).cast("long") * 60
        + F.second(c).cast("long")
    )


def epoch_col(name: str, type_name: str) -> Column:
    """Numeric view of a date/timestamp column for filter evaluation.

    Spark 4 ANSI mode rejects cast(DATE/TIMESTAMP as long), so temporal
    fields are converted explicitly: DATE -> days-since-epoch * 86400;
    instant TIMESTAMP -> unix_seconds (true epoch, independent of
    spark.sql.session.timeZone — the component-built expression would
    shift with it for instant types); TIMESTAMP_NTZ -> ntz_epoch_expr
    (wall-clock components; unix_seconds is illegal on NTZ)."""
    c = F.col(name)
    if type_name == "date":
        return F.unix_date(c).cast("long") * 86400
    if type_name == "timestamp":
        return F.unix_seconds(c)
    return ntz_epoch_expr(c)


def filter_condition(
    f: SearchFilter, numeric: bool, num_col: Column | None = None
) -> Column:
    """Build one Column predicate with reference semantics
    (forwardindex.go:564-644). num_col overrides the numeric view of the
    field (used for date/timestamp columns where cast('long') is illegal
    under ANSI)."""
    if numeric:
        c = num_col if num_col is not None else F.col(f.field).cast("long")
        ok = _num_ok(c)
        if f.op == "=":
            return ok & (c == F.lit(f.value))
        if f.op == "!=":
            return ok & (c != F.lit(f.value))
        if f.op == ">":  # evaluates >= (forwardindex.go:583)
            return ok & (c >= F.lit(f.value))
        if f.op == "<":  # evaluates <= (forwardindex.go:585)
            return ok & (c <= F.lit(f.value))
        if f.op == "between":
            return ok & (c >= F.lit(f.begin)) & (c <= F.lit(f.end))
        if f.op == "in":
            return ok & c.isin(list(f.values))
        if f.op == "not in":
            # sentinel guard inside the loop -> sentinel rows PASS; null
            # rows are excluded (GetInt !ok), hence the isNotNull.
            return c.isNotNull() & ~(ok & c.isin(list(f.values)))
        raise ValueError(f"bad numeric filter op {f.op!r}")
    c = F.coalesce(F.col(f.field), F.lit(""))  # missing string == ''
    if f.op == "=":
        return c == F.lit(f.value)
    if f.op == "!=":
        return c != F.lit(f.value)
    if f.op == "prefix":
        return c.startswith(str(f.value))
    if f.op == "suffix":
        return c.endswith(str(f.value))
    if f.op == "contain":
        return c.contains(str(f.value))
    if f.op == "in":
        return c.isin([str(v) for v in f.values])
    if f.op == "not in":
        return ~c.isin([str(v) for v in f.values])
    raise ValueError(f"bad string filter op {f.op!r}")


def and_filters(
    base: DataFrame,
    filters: Sequence[SearchFilter],
    numeric_fields: set[str],
    temporal_types: dict[str, str] | None = None,
) -> Column | None:
    temporal_types = temporal_types or {}
    cond = None
    for f in filters:
        num_col = (
            epoch_col(f.field, temporal_types[f.field])
            if f.field in temporal_types
            else None
        )
        cond_f = filter_condition(f, f.field in numeric_fields, num_col)
        cond = cond_f if cond is None else (cond & cond_f)
    return cond


def tfidf_score(weight: Column, max_doc: int, df_count: Column) -> Column:
    """table.go:1116-1123: uint32(weight/10000 * log10(maxdoc/df) * 1000)."""
    idf = F.log10(F.lit(float(max_doc)) / df_count.cast("double"))
    return (
        (weight.cast("double") / F.lit(10000.0)) * idf * F.lit(1000.0)
    ).cast("long")


def _schema_kinds(
    base: DataFrame, numeric_fields: set[str] | None
) -> tuple[set[str], dict[str, str]]:
    """Numeric-field set (declared or schema-derived) + temporal column
    kinds — temporal columns need an explicit numeric conversion (ANSI
    forbids cast(DATE as long))."""
    if numeric_fields is None:
        numeric_fields = {
            f.name
            for f in base.schema.fields
            if f.dataType.typeName()
            in ("long", "integer", "short", "byte", "timestamp",
                "timestamp_ntz", "date")
        }
    temporal_types = {
        f.name: f.dataType.typeName()  # date | timestamp | timestamp_ntz
        for f in base.schema.fields
        if f.dataType.typeName() in ("date", "timestamp", "timestamp_ntz")
    }
    return numeric_fields, temporal_types


def _rank_clamp_page(
    scored: DataFrame,
    top_k: int,
    offset: int,
    size: int,
    keep_total: bool,
) -> DataFrame:
    """Q8/Q9 rank + the reference's pagination clamp (table.go:1029-1039)
    over the narrow scored rows, whose `n_` column is the clamp total.
    The page can only ever need the top top_k = max(offset+size, 100)
    rows (the clamp falls back to (0, min(100, total))), so rank =
    TakeOrdered to top_k, then row_number over that tiny pre-ranked
    set."""
    pre = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = pre.withColumn("rn_", F.row_number().over(w_rank))
    total = F.col("n_")
    bad = (
        (F.lit(offset) < 0)
        | (F.lit(size) <= 0)
        | ((F.lit(offset) + F.lit(size)) > total)
    )
    lo = F.when(bad, F.lit(0)).otherwise(F.lit(offset))
    hi = lo + F.when(bad, F.least(F.lit(DEFAULT_PAGE), total)).otherwise(
        F.lit(size)
    )
    page = ranked.filter((F.col("rn_") > lo) & (F.col("rn_") <= hi))
    if keep_total:
        # expose the pre-pagination match count (the reference's
        # SearchDocs returns (docs, total), table.go:1021)
        return page.withColumnRenamed("n_", "_total").drop("rn_")
    return page.drop("n_", "rn_")


def search(
    base: DataFrame,
    postings: DataFrame,
    keyword: str | Sequence[str],
    mode: str = "or",
    search_field: str = "",
    filters: Sequence[SearchFilter] = (),
    offset: int = 0,
    size: int = 0,
    *,
    max_doc: int,
    doc_id: str = "doc_id",
    deleted: DataFrame | None = None,
    numeric_fields: set[str] | None = None,
    term_buckets: int = TERM_BUCKETS,
    keep_total: bool = False,
    rank_col: str = "score",
) -> DataFrame:
    """Full search: returns the hydrated ranked page with its rank score
    in the `rank_col` column (`score` by default; a base column of that
    name is replaced by it, so a caller that needs a stored `score`
    names the rank column apart).

    search_field '' routes to the god field (table.go:997-1000).
    max_doc is the table's NextDocId (pass row-count for dense ids).

    keyword is one term (reference-exact) or a LIST of terms:

    - '' is a full range scan with weight 0 (partition.go:701-704);
    - a term scores TF-IDF with df = |filtered candidate set|, the
      reference's semantics (table.go:1116). A term no live row holds,
      or a filter no candidate passes, returns an empty page.
    - a list surfaces the Spark-native multi-term operators
      (operators/postings.py). The reference's request model took a
      query list (the dead SearchDocIds loop, search/search.go:263-320)
      but only single-term search shipped. mode='or': docs matching ANY
      term, score = sum of per-term TF-IDF (multi_term_or's law);
      mode='and': docs matching ALL terms, score = summed raw weights
      (multi_term_and; no idf term — an intersection has no meaningful
      per-term df weighting once every doc matches every term).

    Filters, delete anti-join, ranking (score desc, doc_id tiebreak) and
    the reference's pagination clamp are the same for every keyword
    shape; the clamp total is the FILTERED candidate count. A
    single-element list degrades to the mode's semantics over one term,
    which for 'or' equals single-term search when no filters/deletes
    apply. With filters or deletes the returned SCORE values can differ:
    multi_term_or scores with df = the term's unfiltered posting-list
    length, while a single term recomputes df over the filtered
    candidate set — ranking order is unaffected for a single term (a
    common positive idf factor), only the absolute score scale.

    Plan shape: one lazy plan, no driver action while it is built.
    Filters hydrate against the forward index; ranking runs over the
    narrow filtered (doc_id, weight) rows, where a count(1) window
    yields both df and the clamp total. A TakeOrdered cuts them to the
    page bound top_k = max(offset+size, 100), and only the final page is
    joined back to `base` for its payload columns, as a broadcast. The
    page is at most top_k rows, so its closing sort plans as one
    TakeOrderedAndProject: no range exchange and no sampling job.
    """
    fld = search_field or GOD_FIELD
    numeric_fields, temporal_types = _schema_kinds(base, numeric_fields)

    # Q1 candidate step: (doc_id, w_) rows, w_ the raw weight of one term
    # or the finished score of a term list. The private name keeps the
    # hydration join unambiguous when base has a `weight` or `score`.
    # A list's terms are deduplicated, and an empty list rejected, by
    # the multi-term operators themselves.
    if keyword == "":
        cand = base.select(
            F.col(doc_id).cast("long").alias("doc_id"),
            F.lit(0).alias("w_"),
        )
    elif isinstance(keyword, str):
        cand = query_term(
            postings, fld, keyword, term_buckets=term_buckets
        ).withColumnRenamed("weight", "w_")
    elif mode == "or":
        cand = multi_term_or(
            postings, fld, list(keyword), max_doc, term_buckets=term_buckets
        ).select("doc_id", F.col("score").alias("w_"))
    elif mode == "and":
        cand = multi_term_and(
            postings, fld, list(keyword), term_buckets=term_buckets
        ).select("doc_id", F.col("sum_weight").alias("w_"))
    else:
        raise ValueError(f"unknown multi-term mode {mode!r}")

    if deleted is not None:  # Q4, bitmap anti-join (partition.go:716-726)
        cand = cand.join(
            F.broadcast(
                deleted.select(F.col(doc_id).cast("long").alias("doc_id"))
            ),
            "doc_id",
            "left_anti",
        )
    # Q5: AND-filters evaluate over the forward index == the base table.
    based = base.withColumn("doc_id", F.col(doc_id).cast("long"))
    hydrated = cand.join(based, "doc_id")
    cond = and_filters(hydrated, filters, numeric_fields, temporal_types)
    if cond is not None:
        hydrated = hydrated.filter(cond)
    # Q7: df = |filtered candidate set| = the clamp total, a window count
    # over the narrow rows; an empty set has no row to score
    narrow = hydrated.select("doc_id", "w_").withColumn(
        "n_", F.count(F.lit(1)).over(Window.partitionBy())
    )
    score = (
        tfidf_score(F.col("w_"), max_doc, F.col("n_"))
        if isinstance(keyword, str)
        else F.col("w_")
    )
    top_k = (
        max(offset + size, DEFAULT_PAGE)
        if size > 0 and offset >= 0
        else DEFAULT_PAGE
    )
    page = _rank_clamp_page(
        narrow.select("doc_id", "n_", score.alias("score")),
        top_k, offset, size, keep_total,
    )
    # Q10: hydrate ONLY the ranked page (broadcast), in the column order
    # doc_id, base columns, [_total,] rank_col; a base column named
    # rank_col is replaced IN PLACE by the rank score.
    base_cols = [c for c in based.columns if c != "doc_id"]
    page_r = page.withColumnRenamed("score", "__rank_score")
    out = based.join(F.broadcast(page_r), "doc_id")
    cols = [F.col("doc_id")]
    for c in base_cols:
        cols.append(
            F.col("__rank_score").alias(rank_col) if c == rank_col
            else based[c]
        )
    if keep_total:
        cols.append(page_r["_total"])
    if rank_col not in base_cols:
        cols.append(F.col("__rank_score").alias(rank_col))
    # the hydration join loses the page's rank order — restore it
    return (
        out.select(*cols)
        .orderBy(F.desc(rank_col), F.asc("doc_id"))
        .limit(top_k)
    )


def bm25_single_term(
    docs: DataFrame,
    key: str,
    content: str,
    keyword: str,
    k1: float = 1.2,
    b: float = 0.75,
    size: int = 20,
) -> DataFrame:
    """Single-term BM25 ranking — the reference's TODO #2 ("更加智能的
    排序规则，目前仅支持简单的DF-IDF算法", README.md:271-272) answered
    Spark-side: Okapi BM25's TF saturation + length normalization over
    the same whitespace token law the TF-IDF path uses.

    Exactness design: for ONE query term the idf factor is a positive
    constant across documents, so it is omitted — the ranking (and the
    reported score) is the RATIONAL part tf*(k1+1) / (tf + k1*(1 - b +
    b*dl/avgdl)).  Every operand is a BIGINT count or an IEEE division/
    multiply of one (avgdl = sum(dl)/N), and (k1+1) is passed as one
    literal, so the doubles are bit-identical to an ANSI-SQL oracle
    evaluating the same expression tree — no transcendental (ln/log)
    whose last-ulp rounding differs across engines.  Multi-term BM25
    needs per-term idf weighting; route it through the postings df
    statistics if needed.

    avgdl is the mean length of documents with >= 1 token (empty/null
    docs contribute no rows to the explode and are excluded — both
    engines identically, so oracle parity holds; textbook BM25 averages
    over the whole collection, document the difference to consumers).

    Plan: ONE token explode into ONE groupBy producing (dl, tf) as a
    conditional count per doc — no tf-to-dl join; avgdl aggregates the
    same grouped frame (Spark reuses the exchange) into a 1-row
    broadcast; final TakeOrdered(size) — no full-corpus sort.
    """
    from spider_engine_spark.operators.dedup import exploded_tokens

    toks = exploded_tokens(docs, key, content)
    per_doc = toks.groupBy(key).agg(
        F.count(F.lit(1)).alias("dl"),
        F.count(F.when(F.col("term") == keyword, 1)).alias("tf"),
    )
    avg = per_doc.agg(
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl")
    )
    scored = per_doc.filter(F.col("tf") > 0).crossJoin(F.broadcast(avg))
    # (k1+1) is folded ONCE in Python and must equal the oracle SQL's
    # literal: for the defaults, 1.2+1.0 rounds to exactly double("2.2")
    # and 1.0-0.75 is exactly 0.25 (asserted in the query docstring) —
    # changing k1/b means re-deriving the oracle's folded literals
    score = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        scored.select(
            F.col(key),
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(key))
        .limit(size)
    )


def bm25_rank(
    docs: DataFrame,
    key: str,
    content: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    size: int = 20,
) -> DataFrame:
    """Multi-term Okapi BM25 — the full form the reference's TODO #2
    asks ranking to grow into (README.md:271-272): per-term idf
    weighting summed over the query terms, not just the single-term
    saturation core.

    Exactness design (hash-gate exact like bm25_single_term): idf is
    kept in its RATIONAL form idf_t = (N - df_t + 0.5) / (df_t + 0.5) —
    the Robertson-Sparck-Jones odds ratio WITHOUT the log.  log is
    monotone, so per-term ranking is unaffected; the cross-term SUM
    weights terms differently than log-idf BM25 would (documented
    engine law — consumers wanting the textbook curve apply ln to the
    per-term factor downstream).  What this buys: every operand is a
    BIGINT count or one IEEE divide/multiply of counts, the identical
    expression tree on both engines, no transcendental whose last-ulp
    rounding differs — so the driver's value-hash gate can pin it.

    A term with tf = 0 contributes EXACTLY +0.0 (0/positive = +0.0,
    idf * 0.0 = 0.0, x + 0.0 = x in IEEE), so no per-term CASE is
    needed; terms are summed in list order (one fixed expression tree,
    never a non-deterministic aggregate over per-term rows).  df_t
    comes from the same token statistics tfidf_score's df uses — here
    aggregated off the per-doc frame, 1-row broadcast.

    Plan: ONE token explode -> ONE groupBy with per-term conditional
    counts -> 1-row stats broadcast -> TakeOrdered(size).  avgdl
    averages docs with >= 1 token (empty docs excluded — same law both
    engines, bm25_single_term documents the difference from textbook).
    """
    from spider_engine_spark.operators.dedup import exploded_tokens

    terms = list(terms)
    if not terms or len(set(terms)) != len(terms):
        raise ValueError(
            f"terms must be a non-empty list of distinct terms: {terms}"
        )
    toks = exploded_tokens(docs, key, content)
    per_doc = toks.groupBy(key).agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, 1)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    matched = per_doc.filter(
        F.greatest(*[F.col(f"tf_{i}") for i in range(len(terms))]) > 0
        if len(terms) > 1
        else F.col("tf_0") > 0
    )
    scored = matched.crossJoin(F.broadcast(stats))
    norm = F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))
    score = None
    for i in range(len(terms)):
        idf = (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (
            F.col(f"df_{i}") + F.lit(0.5)
        )
        part = (F.col(f"tf_{i}") * F.lit(k1 + 1.0)) / (
            F.col(f"tf_{i}") + F.lit(k1) * norm
        )
        s = idf * part
        score = s if score is None else score + s
    return (
        scored.select(
            F.col(key),
            F.col("dl").cast("long").alias("dl"),
            *[
                F.col(f"tf_{i}").cast("long").alias(f"tf_{i}")
                for i in range(len(terms))
            ],
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(key))
        .limit(size)
    )
