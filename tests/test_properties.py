"""Property-based oracles (hypothesis) — pure-Python kernels only (no
Spark in the loop; these kernels ARE what the UDFs execute)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spider_engine_spark import webmodel as wm
from spider_engine_spark.functions.tokenizers import (
    PUNCTUATION,
    split_rune_words,
    split_semicolon_words,
    split_true_words,
    split_whole_words,
    tf_weight,
)
from spider_engine_spark.operators.cuckoo import CuckooFilter

text_st = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=200,
)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_whole_is_identity(s):
    assert split_whole_words(s) == [(s, 0)]


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_rune_covers_unique_chars(s):
    got = dict(split_rune_words(s))
    assert set(got) == set(s)
    assert all(w == 0 for w in got.values())


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_semicolon_partition(s):
    got = dict(split_semicolon_words(s))
    assert set(got) == set(s.split(";"))


@given(text_st)
@settings(max_examples=300, deadline=None)
def test_true_words_weight_invariants(s):
    pairs = split_true_words(s)
    terms = [t for t, _ in pairs]
    # no punctuation tokens survive; terms unique
    assert not (set(terms) & PUNCTUATION)
    assert len(terms) == len(set(terms))
    # the float32 TF law: weights reproduce exactly from the counts
    from spider_engine_spark.functions.tokenizers import segment

    toks = [t for t in segment(s) if t not in PUNCTUATION]
    total = len(toks)
    for t, w in pairs:
        assert w == tf_weight(toks.count(t), total)
        assert 0 <= w <= 10000


@given(st.integers(min_value=0, max_value=1 << 20), st.integers(min_value=1, max_value=1 << 20))
@settings(max_examples=300, deadline=None)
def test_tf_weight_matches_go_float32(cnt, total):
    cnt = min(cnt, total)
    expect = int(
        np.float32(np.float32(cnt) / np.float32(total)) * np.float32(10000)
    )
    assert tf_weight(cnt, total) == expect


@given(st.text(max_size=80).map(lambda s: "http://Host1.Example.com:80/" + s.replace("\n", "")))
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(url):
    c = wm.canonicalize(url)
    assert wm.canonicalize(c) == c
    assert c.startswith("http://host1.example.com")
    assert "#" not in c


@given(st.lists(st.integers(min_value=0, max_value=(1 << 63) - 1), min_size=1, max_size=500, unique=True))
@settings(max_examples=50, deadline=None)
def test_cuckoo_never_false_negative(keys):
    f = CuckooFilter(capacity=2000)
    arr = np.array(keys, dtype=np.uint64)
    f.insert(arr)
    assert f.contains(arr).all()


def test_jvm_canonicalize_matches_python_reference(spark):
    """The JVM canonicalizer (the enrich_candidates projection ladder)
    must be bit-identical to webmodel.canonicalize across the URL shapes
    the synthetic web (and real crawls) produce: case noise, :80 ports,
    fragments, whitespace, missing schemes, empty paths, multi-segment
    paths, unicode hosts."""
    from spider_engine_spark.operators.frontier import enrich_candidates

    hosts = ["HOST3.Example.COM", "host0.example.com", "xn--bcher-kva.tld"]
    paths = ["", "/", "/p/123", "/a/b/c?q=1", "/private/9",
             "/redirect?to=b://c"]
    ports = ["", ":80", ":8080"]
    frags = ["", "#sec1", "#a#b", "# trailing"]
    schemes = ["http://", "HTTPS://", "hTtp://", ""]
    pads = ["", "  ", "\t", "\u00a0"]
    cases = []
    for h in hosts:
        for p in paths:
            for port in ports:
                for f in frags:
                    for s in schemes:
                        for pad in pads:
                            cases.append(f"{pad}{s}{h}{port}{p}{f}{pad}")
    # plus the synthetic web's own outlink noise
    for u in wm.seed_urls(20):
        cases.extend(wm.child_links(u))
    # hostile terminators: Java '$' matches before a trailing line
    # terminator, Python endswith(':80') does not — \z parity cases
    cases += [
        "http://a:80\n/x", "http://a:80\r\n/x", "http://a:80\x85/x",
        "http://a:80 /x", "http://a:80",
    ]
    expected = [wm.canonicalize(u) for u in cases]
    # depth doubles as the row index since output order is not guaranteed
    raw = spark.createDataFrame(
        [(u, i) for i, u in enumerate(cases)], "url_raw string, depth int"
    )
    ladder = {
        r["depth"]: r["url"]
        for r in enrich_candidates(raw).select("url", "depth").collect()
    }
    assert [ladder[i] for i in range(len(cases))] == expected


def test_enrich_stays_whole_stage_codegen(spark):
    """Tripwire for the 64 KB codegen regression: the enrich plan must
    compile into whole-stage codegen with small generated methods. The
    pre-ladder fused expression blew past the JVM's 65536-byte method
    limit and silently ran the crawl's hottest stage interpreted."""
    import contextlib
    import io
    import re

    from spider_engine_spark.operators.frontier import enrich_candidates

    raw = spark.createDataFrame(
        [(u, 0) for u in wm.seed_urls(5)], "url_raw string, depth int"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        enrich_candidates(raw).explain("codegen")
    s = buf.getvalue()
    sizes = [int(m) for m in re.findall(r"maxMethodCodeSize:(\d+)", s)]
    assert sizes, "no whole-stage codegen subtree compiled at all"
    assert max(sizes) < 16_000, f"generated methods ballooning: {sizes}"


def test_enrich_host_split_matches_python_reference(spark):
    """enrich_candidates' host split must mirror webmodel.url_host /
    url_path / robots_allowed / host_priority / host_budget even when the
    canonical URL's path embeds '://' (e.g. a redirect query string) —
    the replay-equality invariant on hostile-but-valid URLs."""
    from spider_engine_spark.operators.frontier import enrich_candidates

    urls = [
        "http://host0.example.com/redirect?to=b://c",
        "http://h.example/private/9?next=https://evil.example/",
        "http://host3.example.com/p/1",
        "plain.example/x?u=ftp://y/z",
    ]
    raw = spark.createDataFrame([(u, 0) for u in urls], "url_raw string, depth int")
    rows = {r["url"]: r for r in enrich_candidates(raw).collect()}
    assert len(rows) == len(urls)
    for u in urls:
        cu = wm.canonicalize(u)
        r = rows[cu]
        assert r["host"] == wm.url_host(cu), cu
        assert r["allowed"] == wm.robots_allowed(wm.url_path(cu)), cu
        assert r["priority"] == wm.host_priority(wm.url_host(cu)), cu
        assert r["budget"] == wm.host_budget(wm.url_host(cu)), cu


def test_jvm_host_attrs_match_python_reference(spark):
    """The whole-stage-codegen host attribute laws (host_attr_cols:
    conv(substring(md5(...),1,15),16,10) = webmodel.attr_h60) must be
    bit-identical to host_priority/host_budget across synthetic-web
    hosts and hostile strings — the scheduler uses the JVM form over the
    outlink stream, the replay simulator uses the Python form."""
    from pyspark.sql import functions as F

    from spider_engine_spark.operators.frontier import host_attr_cols

    hosts = (
        [wm.host_name(i) for i in range(500)]
        + [
            "",
            "a",
            "ünï©ødé.example",
            "host" + "x" * 500 + ".com",
            "UPPER.CASE.COM",
            "host0.example.com:8080",
            " leading-space.example",
            "emoji-🕸.example",
        ]
    )
    cfg = wm.WebConfig(ticks_per_step=7)  # non-default ticks exercise //
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    prio, budget = host_attr_cols(cfg)
    rows = df.select("host", prio.alias("p"), budget.alias("b")).collect()
    assert len(rows) == len(hosts)
    for r in rows:
        assert r["p"] == wm.host_priority(r["host"]), r["host"]
        assert r["b"] == wm.host_budget(r["host"], cfg), r["host"]
