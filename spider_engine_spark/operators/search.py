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

Scale notes: the ranked candidate set is bounded by the postings of one
term; the global row_number window below runs on that already-small set
(the reference clamps pages to 100 anyway). The probe itself is a pruned
scan of the postings table; the hydration join broadcasts the ranked page.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spider_engine_spark.operators.postings import GOD_FIELD, query_term
from spider_engine_spark.pins import pin

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


def _hydrated_candidates(
    cand: DataFrame,
    base: DataFrame,
    doc_id: str,
    deleted: DataFrame | None,
    filters: Sequence[SearchFilter],
    numeric_fields: set[str],
    temporal_types: dict[str, str],
) -> DataFrame:
    """Q4 delete anti-join + hydration + Q5 AND-filters — shared by the
    single-term and multi-term pipelines."""
    if deleted is not None:  # Q4, bitmap anti-join (partition.go:716-726)
        cand = cand.join(
            F.broadcast(
                deleted.select(F.col(doc_id).cast("long").alias("doc_id"))
            ),
            "doc_id",
            "left_anti",
        )
    # Q5: AND-filters evaluate over the forward index == the base table.
    hydrated = cand.join(
        base.withColumn("doc_id", F.col(doc_id).cast("long")), "doc_id"
    )
    cond = and_filters(hydrated, filters, numeric_fields, temporal_types)
    if cond is not None:
        hydrated = hydrated.filter(cond)
    return hydrated


def _rank_clamp_page(
    scored: DataFrame,
    total_col: str,
    offset: int,
    size: int,
    keep_total: bool,
    drop_cols: Sequence[str] = (),
) -> DataFrame:
    """Q8/Q9 rank + the reference's pagination clamp (table.go:1029-1039),
    shared by search() and search_multi(). The page can only ever need
    the top max(offset+size, 100) rows (the clamp falls back to
    (0, min(100, total))), so rank = distributed TakeOrdered to that
    bound, then row_number over the tiny pre-ranked set — a hot term's
    million-row posting list never funnels through one task."""
    top_k = (
        max(offset + size, DEFAULT_PAGE)
        if size > 0 and offset >= 0
        else DEFAULT_PAGE
    )
    pre = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = pre.withColumn("rn_", F.row_number().over(w_rank))
    total = F.col(total_col)
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
        return page.withColumnRenamed(total_col, "_total").drop(
            "rn_", *drop_cols
        )
    return page.drop(total_col, "rn_", *drop_cols)


def search(
    base: DataFrame,
    postings: DataFrame,
    keyword: str,
    search_field: str = "",
    filters: Sequence[SearchFilter] = (),
    offset: int = 0,
    size: int = 0,
    *,
    max_doc: int,
    doc_id: str = "doc_id",
    deleted: DataFrame | None = None,
    numeric_fields: set[str] | None = None,
    term_buckets: int | None = None,
    keep_total: bool = False,
) -> DataFrame:
    """Full search: returns the hydrated ranked page with a `score` column.

    search_field '' routes to the god field (table.go:997-1000);
    keyword '' is a full range scan with weight 0 (partition.go:701-704).
    max_doc is the table's NextDocId (pass row-count for dense ids).
    df = |filtered candidate set|, the reference's semantics
    (table.go:1116). A term no live row holds returns an empty page.

    The narrow candidate set is pinned in the caller's pins.scope().

    Plan shape: filters hydrate against the forward index as before,
    but ranking runs over the narrow persisted (doc_id, weight) set —
    count job for df, TakeOrdered over 16-byte rows — and only the
    FINAL page (≤ max(offset+size, 100) rows) is joined back to `base`
    for its payload columns, as a broadcast of the page. The former
    shape broadcast a 1-row stats agg but carried every base column
    (document text included) through scoring and the TakeOrdered, and
    evaluated the candidate subplan twice (once for the stats agg,
    once for scoring).
    """
    fld = search_field or GOD_FIELD
    numeric_fields, temporal_types = _schema_kinds(base, numeric_fields)

    if keyword == "":
        cand = base.select(
            F.col(doc_id).cast("long").alias("doc_id"),
            F.lit(0).alias("weight"),
        )
    elif term_buckets is not None:
        cand = query_term(postings, fld, keyword, term_buckets=term_buckets)
    else:
        cand = query_term(postings, fld, keyword)

    hydrated = _hydrated_candidates(
        cand, base, doc_id, deleted, filters, numeric_fields, temporal_types
    )

    # Q7: df = |filtered candidate set|, counted on the narrow
    # materialized candidates (plain evictable cache, lineage retained)
    # and emitted as a literal — no stats broadcast, no second
    # evaluation of the candidate subplan.
    narrow = pin(hydrated.select("doc_id", "weight"))
    df_count = narrow.count()
    # df = 0 means there is no row to score, and the literal
    # log10(max_doc / 0) would fail constant folding under ANSI
    score = (
        tfidf_score(F.col("weight"), max_doc, F.lit(df_count).cast("long"))
        if df_count
        else F.lit(None).cast("long")
    )
    scored = narrow.withColumn("score", score).withColumn(
        "df_", F.lit(df_count).cast("long")
    )
    page = _rank_clamp_page(
        scored, "df_", offset, size, keep_total, drop_cols=("weight",)
    )
    # Q10: hydrate ONLY the ranked page (broadcast — it is clamped to
    # ≤ max(offset+size, 100) rows), reproducing the former column
    # order: doc_id, base columns, [_total,] score — including the
    # former withColumn semantics where a base column named `score`
    # was replaced IN PLACE by the rank score.
    based = base.withColumn("doc_id", F.col(doc_id).cast("long"))
    base_cols = [c for c in based.columns if c != "doc_id"]
    page_r = page.withColumnRenamed("score", "__rank_score")
    out = based.join(F.broadcast(page_r), "doc_id")
    cols = [F.col("doc_id")]
    for c in base_cols:
        cols.append(
            F.col("__rank_score").alias("score") if c == "score" else based[c]
        )
    if keep_total:
        cols.append(page_r["_total"])
    if "score" not in base_cols:
        cols.append(F.col("__rank_score").alias("score"))
    # the hydration join loses the page's rank order — restore it (the
    # page is ≤ max(offset+size, 100) rows; the sort is driver-cheap)
    return out.select(*cols).orderBy(F.desc("score"), F.asc("doc_id"))


def search_multi(
    base: DataFrame,
    postings: DataFrame,
    terms: Sequence[str],
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
    term_buckets: int | None = None,
    keep_total: bool = False,
) -> DataFrame:
    """Multi-term search: hydrated ranked page for a LIST of query terms.

    The reference's request model took a query list (the dead
    SearchDocIds loop, search/search.go:263-320) but only single-term
    search shipped; this surfaces the Spark-native multi-term operators
    (operators/postings.py) through the same filter/pagination pipeline
    as single-term search:

    - mode='or': docs matching ANY term, score = sum of per-term TF-IDF
      (multi_term_or's law).
    - mode='and': docs matching ALL terms, score = summed raw weights
      (multi_term_and; no idf term — an intersection has no meaningful
      per-term df weighting once every doc matches every term).

    Filters, delete anti-join, ranking (score desc, doc_id tiebreak) and
    the reference's pagination clamp behave exactly as in search(); the
    clamp total is the FILTERED candidate count (count semantics — the
    per-term postings df statistic is not meaningful post-intersection).
    A single-element list degrades to the mode's semantics over one term,
    which for 'or' equals single-term search() when no filters/deletes
    apply. With filters or deletes the returned SCORE values can differ:
    multi_term_or scores with df = the term's unfiltered posting-list
    length, while search() recomputes df over the filtered candidate set
    — ranking order is unaffected for a single term (a common positive
    idf factor), only the absolute score scale.
    """
    from spider_engine_spark.operators.postings import (
        TERM_BUCKETS,
        multi_term_and,
        multi_term_or,
    )

    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("search_multi needs at least one term")
    if mode not in ("or", "and"):
        raise ValueError(f"unknown multi-term mode {mode!r}")
    fld = search_field or GOD_FIELD
    numeric_fields, temporal_types = _schema_kinds(base, numeric_fields)
    buckets = term_buckets if term_buckets is not None else TERM_BUCKETS

    if mode == "or":
        cand = multi_term_or(
            postings, fld, terms, max_doc, term_buckets=buckets
        ).select("doc_id", "score")
    else:
        cand = multi_term_and(
            postings, fld, terms, term_buckets=buckets
        ).select("doc_id", F.col("sum_weight").alias("score"))

    hydrated = _hydrated_candidates(
        cand, base, doc_id, deleted, filters, numeric_fields, temporal_types
    )
    # same narrow-rank shape as search(): count the materialized
    # (doc_id, score) candidates once for the clamp total, rank the
    # narrow rows, and hydrate only the final page (broadcast) —
    # column order preserved: doc_id, score, base columns[, _total].
    narrow = pin(hydrated.select("doc_id", "score"))
    total = narrow.count()
    with_total = narrow.withColumn("total_", F.lit(total).cast("long"))
    page = _rank_clamp_page(with_total, "total_", offset, size, keep_total)
    based = base.withColumn("doc_id", F.col(doc_id).cast("long"))
    base_cols = [c for c in based.columns if c != "doc_id"]
    page_r = page.withColumnRenamed("score", "__rank_score")
    out = based.join(F.broadcast(page_r), "doc_id")
    cols = (
        [F.col("doc_id"), F.col("__rank_score").alias("score")]
        + [based[c] for c in base_cols]
        + ([page_r["_total"]] if keep_total else [])
    )
    # restore the page's rank order lost by the hydration join
    return out.select(*cols).orderBy(
        F.desc("__rank_score"), F.asc("doc_id")
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
