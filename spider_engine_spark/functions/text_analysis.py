"""Text-analysis functions for training-data pipelines — all JVM-native
Column expressions (no Python in the hot path), each with an exact ANSI
SQL equivalent for the DuckDB oracles.

- token_count: whitespace token count.
- quality features: token count, avg token length, stopword ratio,
  uppercase/punct ratios, repetition (distinct/total tokens).
- language-ID: stopword-list hit counts per language, argmax with a
  deterministic tiebreak.
- fingerprint: md5-based document fingerprint (content-defined id).
- Gopher repetition filters (Rae et al. 2021): top_ngram_char_fraction,
  dup_ngram_char_fraction — per-row array exprs, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from spider_engine_spark.functions.hashes import md5_h60_col
from spider_engine_spark.pins import pin

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un", "que"],
}


def tokens(c: Column) -> Column:
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def avg_token_len(c: Column) -> Column:
    t = tokens(c)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / F.size(t)
    )


def distinct_ratio(c: Column) -> Column:
    t = tokens(c)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(t)).cast("double") / F.size(t)
    )


def stopword_hits(c: Column, lang: str) -> Column:
    t = tokens(c)
    words = STOPWORDS[lang]
    return F.size(F.filter(t, lambda x: x.isin(*[F.lit(w) for w in words])))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    t = tokens(c)
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        stopword_hits(c, lang).cast("double") / F.size(t)
    )


def lang_guess(c: Column) -> Column:
    """argmax of per-language stopword hits; ties -> lexicographically
    first language; zero hits everywhere -> 'und' (undetermined)."""
    pairs = [(lang, stopword_hits(c, lang)) for lang in sorted(STOPWORDS)]
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang, hits in pairs:
        take = hits > best_hits  # strict: ties keep the earlier language
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def fingerprint(c: Column, length: int = 16) -> Column:
    """Content fingerprint: md5 prefix of the normalized token stream."""
    return F.substring(F.md5(F.concat_ws(" ", tokens(F.lower(c)))), 1, length)


def _pos_ngrams(toks: Column, n: int) -> Column:
    """Positional (overlapping) token n-grams, space-joined; empty array
    when the doc has < n tokens. The sequence() is guarded by the
    when(): sequence(1, size-(n-1)) would count DOWN for short docs."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _token_chars(toks: Column) -> Column:
    return F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _top_run_zero() -> Column:
    return F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("bestcnt"),
        F.lit(0).cast("long").alias("bestcover"),
    )


def _top_run_merge(n: int):
    """Merge step of the single-pass run-length scan over a SORTED gram
    array: the accumulator tracks (bestcnt = max occurrence count of any
    gram, bestcover = cnt * token-chars of the winning gram; count ties
    break to the larger cover — deterministic). One aggregate = the
    sorted array is evaluated once per row; a count-by-distinct
    transform would re-evaluate the captured gram array per element
    (Column exprs are trees, not DAGs — the round-3 codegen lesson,
    which made the naive form ~100x slower)."""

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        cover = run * (F.length(x).cast("long") - F.lit(n - 1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["bestcnt"], run).alias("bestcnt"),
            F.when(run > acc["bestcnt"], cover)
            .when(run == acc["bestcnt"], F.greatest(acc["bestcover"], cover))
            .otherwise(acc["bestcover"])
            .alias("bestcover"),
        )

    return merge


def _top_frac_from_struct(best: Column, total: Column) -> Column:
    return F.when(
        (total > 0) & (best["bestcnt"] > 0),
        F.least(best["bestcover"].cast("double") / total, F.lit(1.0)),
    ).otherwise(F.lit(0.0))


def top_ngram_char_fraction(c: Column, n: int = 2) -> Column:
    """Gopher repetition rule (Rae et al. 2021, A1.1): fraction of the
    document's characters contained in occurrences of the most frequent
    token n-gram. Characters = token characters (separator whitespace
    excluded on both sides of the ratio); overlapping occurrences
    double-count in the numerator, so the raw ratio can exceed 1 — it is
    clamped to 1.0. Count ties break to the larger char coverage
    (deterministic). 0.0 for docs with < n tokens or no characters.

    Pure JVM, no shuffle, O(g log g) per row (sort + one run-length
    aggregate pass; the fraction is computed in the aggregate's finish
    lambda so the scan's result struct is never referenced twice — a
    bare struct expression would duplicate the whole sort+scan subtree
    per field access). Typical use: drop docs with top_2gram > 0.20."""
    toks = tokens(c)
    total = _token_chars(toks)
    return F.aggregate(
        F.array_sort(_pos_ngrams(toks, n)),
        _top_run_zero(),
        _top_run_merge(n),
        lambda acc: _top_frac_from_struct(acc, total),
    )


def gopher_repetition(
    df,
    content: str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
    tokens_col: str | None = None,
):
    """Gopher repetition-quality features (Rae et al. 2021, A1.1) for a
    DataFrame: adds `top_{n}gram_char_frac` for each n in top_ns and
    `dup_{n}gram_char_frac` for each n in dup_ns.

    dup_{n}gram_char_frac = fraction of the document's characters
    covered by at least one token n-gram occurring more than once —
    exact positional coverage (each character counted once however many
    duplicate grams span it: the strict reading, always <= 1). Typical
    use: drop docs with dup_5gram > 0.15.

    Built as a projection ladder (tokens -> grams -> sorted -> dup
    values -> positional flags -> coverage), each rung materialized as a
    column attribute so the lambdas reference per-row VALUES, not
    re-evaluated expression trees. Everything is per-row array algebra:
    no shuffle, no UDF — at 100 TB this is a map-only stage.

    `tokens_col` names an existing array<string> token column to reuse
    (callers that already materialized the split, e.g. quality_filter,
    avoid re-tokenizing); default tokenizes `content` itself."""
    toks, total = "_rep_toks", "_rep_total"
    tok_src = F.col(tokens_col) if tokens_col else tokens(F.col(content))
    d = df.withColumn(toks, tok_src).withColumn(
        total, _token_chars(F.col(toks))
    )
    for n in top_ns:
        # the finish lambda keeps the O(g log g) sort+scan referenced
        # exactly once (same rule as the Column form)
        d = d.withColumn(
            f"top_{n}gram_char_frac",
            F.aggregate(
                F.array_sort(_pos_ngrams(F.col(toks), n)),
                _top_run_zero(),
                _top_run_merge(n),
                lambda acc: _top_frac_from_struct(acc, F.col(total)),
            ),
        )
    for n in dup_ns:
        g, s, dv, fl = f"_rep_g{n}", f"_rep_s{n}", f"_rep_d{n}", f"_rep_f{n}"
        d = d.withColumn(g, _pos_ngrams(F.col(toks), n))
        d = d.withColumn(s, F.array_sort(F.col(g)))
        # duplicate gram VALUES: sorted-adjacent equality (no g² compare)
        d = d.withColumn(
            dv,
            F.array_distinct(
                F.filter(
                    F.when(
                        F.size(F.col(s)) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(F.col(s)) - 1),
                            lambda i: F.when(
                                F.element_at(F.col(s), i)
                                == F.element_at(F.col(s), i + 1),
                                F.element_at(F.col(s), i),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                    lambda v: v.isNotNull(),
                )
            ),
        )
        d = d.withColumn(
            fl, F.transform(F.col(g), lambda x: F.array_contains(F.col(dv), x))
        )
        # token j is covered when any of the <= n gram windows spanning
        # it is a duplicate; chars of covered tokens, once each
        ngrams = F.size(F.col(g))
        cov = F.aggregate(
            F.sequence(F.lit(1), F.size(F.col(toks))),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                F.exists(
                    F.slice(
                        F.col(fl),
                        F.greatest(j - F.lit(n - 1), F.lit(1)),
                        F.least(j, ngrams)
                        - F.greatest(j - F.lit(n - 1), F.lit(1))
                        + 1,
                    ),
                    lambda x: x,
                ),
                F.length(F.element_at(F.col(toks), j)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        d = d.withColumn(
            f"dup_{n}gram_char_frac",
            F.when(
                (F.col(total) > 0) & (F.size(F.col(dv)) > 0),
                cov.cast("double") / F.col(total),
            ).otherwise(F.lit(0.0)),
        ).drop(g, s, dv, fl)
    return d.drop(toks, total)


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
#  letter runs | digit runs | punctuation runs — the pre-tokenization
#  split GPT-style BPE vocabularies are trained over (simplified: no
#  contraction classes, ASCII-only letter class so Java regex and RE2
#  (DuckDB) agree byte-for-byte)


def bpe_ish_tokens(c: Column) -> Column:
    """BPE-style pre-tokenization via regexp_extract_all — JVM-side; the
    oracle uses DuckDB's regexp_extract_all with the same pattern."""
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(c: Column) -> Column:
    return F.size(bpe_ish_tokens(c))


def winnowing_fingerprints(
    c: Column, n: int = 3, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the standard rolling-hash selection for near-dup detection at scale):
    hash every positional n-token gram (md5 60-bit, the SQL-reproducible
    hash), slide a window of w consecutive gram hashes, keep each
    window's minimum, distinct. All JVM array expressions — no UDF.

    Returns array<long> (empty when the doc has < n+w-1 tokens). Two
    documents sharing a long-enough run of text share a fingerprint with
    certainty (the guarantee windowed-min selection provides and random
    sampling does not).

    PERF: this single-Column form captures `hashes` as an EXPRESSION in
    the windowed-min lambda, so every window re-evaluates the full
    tokenize+gram+md5 chain (trees, not DAGs) — fine for one-off use on
    short docs, ~25x slower than the ladder at corpus scale.  Pipelines
    should call add_winnowing_fingerprints (the materialized-ladder
    DataFrame form) and explode with exploded_winnowing_fingerprints.
    """
    toks = tokens(c)
    # shared positional-gram law (_pos_ngrams) — its <n empty-array
    # guard is subsumed by the outer size >= n+w-1 gate below
    hashes = F.transform(_pos_ngrams(toks, n), md5_h60_col)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(hashes) - (w - 1)),
            lambda j: F.array_min(F.slice(hashes, j, w)),
        )
    )
    return F.when(
        F.size(toks) >= n + w - 1, wins
    ).otherwise(F.array().cast("array<long>"))


def add_winnowing_fingerprints(
    df, content: str, out: str = "fps", n: int = 3, w: int = 4
):
    """DataFrame form of winnowing_fingerprints (same law, same output
    values): tokens, grams and gram-hashes are materialized as column
    attributes so each rung is computed ONCE per row — the windowed-min
    lambda then slices a per-row VALUE instead of re-evaluating the
    tokenize+md5 chain per window (measured 25x at sf0.01).  Adds
    `out` (array<long>) and drops the intermediates."""
    tk, g, hs = f"_win_toks_{out}", f"_win_grams_{out}", f"_win_hs_{out}"
    d = df.withColumn(tk, tokens(F.col(content)))
    d = d.withColumn(g, _pos_ngrams(F.col(tk), n))
    d = d.withColumn(hs, F.transform(F.col(g), md5_h60_col))
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col(hs)) - (w - 1)),
            lambda j: F.array_min(F.slice(F.col(hs), j, w)),
        )
    )
    return d.withColumn(
        out,
        F.when(F.size(F.col(tk)) >= n + w - 1, wins).otherwise(
            F.array().cast("array<long>")
        ),
    ).drop(tk, g, hs)


def exploded_winnowing_fingerprints(
    df, key: str, content: str, n: int = 3, w: int = 4, fp_col: str = "fp"
):
    """(key, fp) rows from the winnowing ladder.  Uses explode_outer +
    isNotNull-on-the-OUTPUT rather than explode: plain explode makes
    InferFiltersFromGenerate add a `size(fps) > 0` filter which
    PushDownPredicates rewrites through the projection ladder with the
    whole fingerprint tree inlined ~14x (no non-cheap duplication guard
    in that rule — measured 25x slower).  A null-check on the generator
    output cannot be pushed below the Generate, so the ladder survives;
    empty-array docs cost one null row each, filtered right above."""
    d = add_winnowing_fingerprints(df, content, "_win_fps", n, w)
    return d.select(
        key, F.explode_outer("_win_fps").alias(fp_col)
    ).filter(F.col(fp_col).isNotNull())


# Reject-rule labels quality_filter can emit, in rule order (importers
# — the audit query, dashboards — should enumerate THIS, not re-type
# label strings).
QUALITY_RULE_LABELS = (
    "too_few_tokens",
    "too_many_tokens",
    "avg_token_too_short",
    "avg_token_too_long",
    "top_2gram_repetition",
    "dup_5gram_repetition",
    "low_distinct_ratio",
)


def quality_filter(
    df,
    content: str,
    min_tokens: int = 10,
    max_tokens: int = 200_000,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 12.0,
    max_top2gram: float = 0.20,
    max_dup5gram: float = 0.15,
    min_distinct_ratio: float = 0.0,
):
    """Composite document-quality gate (Gopher-style ruleset): adds
    `quality_reject_reasons` (array of failed-rule labels, empty = keep)
    and `quality_keep` (boolean). The two repetition thresholds (top-
    2-gram 0.20, dup-5-gram 0.15) are Rae et al. 2021 A1.1's published
    values; the length / avg-token-length bounds are deliberately looser
    operational defaults (Gopher's own are 50-100,000 words and mean
    word length 3-10 — pass those explicitly to reproduce the paper's
    gate). Every rule is a per-row JVM expression over the
    `gopher_repetition` ladder plus the basic token features — no
    shuffle, stateless, streaming-safe. NULL content is treated as the
    empty document (tokenless), so it fails the min-token rule rather
    than sailing through on NULL comparisons.

    Keeping the REASONS (not just the verdict) is deliberate: corpus
    curation iterates on threshold choices, and a labeled reject stream
    lets each rule's kill-rate be audited in one aggregation instead of
    a recompute over 100 TB.

    Plan-shape warning: consume the derived columns through PROJECTIONS
    or AGGREGATE EXPRESSIONS (e.g. sum(array_contains(reasons, lbl)) —
    the quality_gate_audit pattern), or write the gated result before
    filtering.  A Filter or explode placed directly above this operator
    is rewritten THROUGH the projection ladder by Catalyst's
    PushDownPredicates / generator pushdown, which substitute aliases
    with no non-cheap-duplication guard (unlike CollapseProject): the
    tokenize subtree re-expands ~57x per row (measured 30x slowdown).
    """
    tk = "_qf_toks"
    toks, avg, dr = "_qf_ntoks", "_qf_avglen", "_qf_distinct"
    # tokenize ONCE (the regex split over full text is the expensive
    # subtree — Column exprs are trees, not DAGs, so every feature
    # referencing tokens(content) would re-run the split per row)
    d = df.withColumn(
        tk, tokens(F.coalesce(F.col(content), F.lit("")))
    )
    d = gopher_repetition(d, content, top_ns=(2,), dup_ns=(5,), tokens_col=tk)
    ntoks = F.size(F.col(tk))
    d = (
        d.withColumn(toks, ntoks)
        .withColumn(
            avg,
            F.when(ntoks == 0, F.lit(0.0)).otherwise(
                _token_chars(F.col(tk)).cast("double") / ntoks
            ),
        )
        .withColumn(
            dr,
            F.when(ntoks == 0, F.lit(0.0)).otherwise(
                F.size(F.array_distinct(F.col(tk))).cast("double") / ntoks
            ),
        )
    )
    conds = [
        F.col(toks) < F.lit(min_tokens),
        F.col(toks) > F.lit(max_tokens),
        F.col(avg) < F.lit(min_avg_token_len),
        F.col(avg) > F.lit(max_avg_token_len),
        F.col("top_2gram_char_frac") > F.lit(max_top2gram),
        F.col("dup_5gram_char_frac") > F.lit(max_dup5gram),
        F.col(dr) < F.lit(min_distinct_ratio),
    ]
    rules = list(zip(QUALITY_RULE_LABELS, conds))
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(label)) for label, cond in rules]
        ),
        lambda v: v.isNotNull(),
    )
    return (
        d.withColumn("quality_reject_reasons", reasons)
        .withColumn(
            "quality_keep", F.size(F.col("quality_reject_reasons")) == 0
        )
        .drop(tk, toks, avg, dr)
    )


def token_rarity(df, key: str, content: str):
    """Per-document unigram corpus-frequency score — the integer-exact
    core of a CCNet-style unigram-LM quality filter (Wenzek et al. '19
    keep low-perplexity text; under a unigram LM, perplexity is a
    monotone transform of the mean corpus frequency of a doc's tokens).

    Returns (key, n_tokens, sum_df, avg_df): n_tokens = token count,
    sum_df = sum over token OCCURRENCES of the corpus-wide count of that
    token, avg_df = sum_df / n_tokens.  The log/perplexity transform is
    deliberately left to consumers: it is monotone in avg_df, and
    correctly-rounded log10 is not guaranteed across engines, while
    BIGINT sums and one IEEE division are bit-exact — so the whole
    result can sit behind the driver's value-hash gate.

    Plan (2 shuffles + 1 broadcast): explode tokens once → per-(doc,
    term) counts (one groupBy) and corpus term counts (one groupBy over
    the same exploded frame) → broadcast the vocabulary counts into the
    per-doc join (the vocab table is tiny relative to the corpus; at
    vocabularies beyond driver memory swap the broadcast for a shuffle
    join — stopword keys are then the usual AQE-skew case) → one final
    per-doc aggregate.  Zero-token docs keep n_tokens = sum_df = 0 and
    a NULL avg_df (0/0 is NULL in both engines).
    """
    from spider_engine_spark.operators.dedup import exploded_tokens

    toks = exploded_tokens(df, key, content)
    # the corpus term counts re-aggregate the per-(doc, term) counts
    # (sum of cnt == count of occurrences) instead of re-exploding the
    # corpus, and tc is persisted because it feeds both that roll-up
    # and the join below (plain evictable cache, lineage retained) —
    # the former shape tokenized the corpus twice
    tc = pin(toks.groupBy(key, "term").agg(F.count(F.lit(1)).alias("cnt")))
    lm = tc.groupBy("term").agg(F.sum("cnt").alias("df_"))
    per_doc = (
        tc.join(F.broadcast(lm), "term")
        .groupBy(key)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("df_")).alias("sum_df"),
        )
    )
    return (
        df.select(key)
        .join(per_doc, key, "left")
        .select(
            F.col(key),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("sum_df", F.lit(0)).cast("long").alias("sum_df"),
            (
                F.col("sum_df").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("avg_df"),
        )
    )


def exploded_bigrams(df: DataFrame, key: str, content: str) -> DataFrame:
    """(key, w1, w2) rows — one adjacent token pair per corpus bigram.
    The token array is materialized as a column and exploded with
    explode_outer + a generator-output filter (the round-5 pushdown
    lesson: a plain explode's inferred size>0 filter re-splits the text
    a second time per row); the zip pads the trailing token's pair with
    NULL, which the same filter drops."""
    d = df.withColumn("_big_toks", tokens(F.col(content)))
    t = F.col("_big_toks")
    d = d.withColumn(
        "_big_pairs",
        F.arrays_zip(
            t.alias("w1"), F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w2")
        ),
    )
    return (
        d.select(key, F.explode_outer("_big_pairs").alias("_p"))
        .filter(F.col("_p.w2").isNotNull())
        .select(key, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


# the PMI core, monotone-equivalent rational form (no log — cross-engine
# log rounding is not IEEE-pinned; ranking and the hash gate use the
# rational score). Kept as ONE expression string so the Spark plan and
# the SQL oracle evaluate the IDENTICAL IEEE op sequence.
PMI_SCORE_SQL = (
    "(CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE))"
    " / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE) * CAST(n_bi AS DOUBLE))"
)


def collocations_pmi(
    df: DataFrame, key: str, content: str, min_count: int = 5
) -> DataFrame:
    """Corpus collocations by pointwise mutual information: bigram
    (w1, w2) scored by the rational PMI core
    c_xy * N_uni^2 / (c_x * c_y * N_bi) — the argument of the log, so
    the RANKING is exactly PMI's while every operand stays an exact
    integer count fed through a fixed IEEE op sequence (PMI_SCORE_SQL;
    consumers wanting nats take log(score) themselves).

    Plan shape at 100 TB: one bigram explode -> groupBy(w1, w2) count
    (one shuffle, map-side partial), one token explode -> groupBy(w)
    count, a 1-row totals aggregate broadcast, and two equi-joins of
    the min_count-filtered bigram table against the unigram table (AQE
    broadcasts the unigram side when the vocab fits). min_count prunes
    the hapax tail BEFORE the joins — at web scale that is the
    difference between |vocab|^2 and the short head."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    bi = exploded_bigrams(df, key, content)
    cxy = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= F.lit(int(min_count)))
    )
    toks = df.select(token_count(F.col(content)).alias("_n"))
    totals = toks.agg(
        F.sum("_n").alias("n_uni"),
        F.sum(F.greatest(F.col("_n") - 1, F.lit(0))).alias("n_bi"),
    )
    from spider_engine_spark.operators.dedup import exploded_tokens

    # persisted: the unigram table hydrates BOTH bigram endpoints (w1
    # and w2 joins) — without the cache the tokenize + count subtree is
    # evaluated twice (plain evictable cache, lineage retained)
    uni = pin(
        exploded_tokens(df, key, content)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    return (
        cxy.join(uni.select(F.col("term").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn("pmi_score", F.expr(PMI_SCORE_SQL))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi_score")
    )


# C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
# Limits of Transfer Learning", appendix: the C4 heuristics). The exact
# terminal-punctuation set of the paper; the word-count and
# javascript/lorem-ipsum/brace rules are the published ones, with the
# paper's 5-sentence page floor generalized to `min_lines` KEPT lines.
C4_TERMINAL_CHARS = (".", "!", "?", '"')


def c4_line_kept(line: Column, min_words: int = 3) -> Column:
    """The C4 line-keep predicate: ends in terminal punctuation, has at
    least `min_words` whitespace words, and does not mention
    `javascript` (case-sensitive — the corpus law here is lowercase
    text; callers with mixed case lower() first)."""
    last = F.substring(line, -1, 1)
    words = F.size(F.filter(F.split(line, r"\s+"), lambda t: t != ""))
    return (
        last.isin(*C4_TERMINAL_CHARS)
        & (words >= F.lit(int(min_words)))
        & ~line.contains("javascript")
    )


def c4_clean(
    df: DataFrame,
    key: str,
    content: str,
    min_words: int = 3,
    min_lines: int = 3,
) -> DataFrame:
    """C4 page cleaning: drop lines failing c4_line_kept, drop WHOLE
    pages containing 'lorem ipsum' or '{' (the paper's code/boilerplate
    page rules) or ending with fewer than `min_lines` kept lines.
    Returns (key, n_lines, n_kept, page_kept, cleaned) where `cleaned`
    is the surviving lines re-joined with newlines ('' for dropped
    pages).  NULL content is a dropped page — (0, 0, false, ''), never
    NULL outputs (a NULL page_kept would escape `page_kept == False`
    audits under three-valued logic).

    Scale shape: pure per-row Column algebra — no shuffle, no UDF; at
    100 TB this fuses into the parquet scan. The line array and the
    kept-line array are materialized as ladder columns so each is
    computed once (trees-not-DAGs; PLANS.md round-3 lesson)."""
    c = F.col(content)
    d = df.withColumn("_c4_ls", F.split(c, "\n")).withColumn(
        "_c4_kept",
        F.filter(F.col("_c4_ls"), lambda x: c4_line_kept(x, min_words)),
    )
    page_ok = ~c.contains("lorem ipsum") & ~c.contains("{")
    page_kept = F.coalesce(
        page_ok & (F.size("_c4_kept") >= F.lit(int(min_lines))),
        F.lit(False),
    )
    return d.select(
        F.col(key),
        F.when(c.isNull(), F.lit(0))
        .otherwise(F.size("_c4_ls"))
        .alias("n_lines"),
        F.when(c.isNull(), F.lit(0))
        .otherwise(F.size("_c4_kept"))
        .alias("n_kept"),
        page_kept.alias("page_kept"),
        F.when(page_kept, F.array_join("_c4_kept", "\n"))
        .otherwise(F.lit(""))
        .alias("cleaned"),
    )
