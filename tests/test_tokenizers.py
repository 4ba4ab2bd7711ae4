"""Tokenizer parity oracles, ported from the reference's unit tests.

Reference: /root/reference/core/index/index_test.go:28-51 and
core/index/common.go:86-154 (semantics restated in SURVEY.md §2.2 / §5 and
FIXTURES.md F2).
"""

from __future__ import annotations

import numpy as np

from spider_engine_spark.functions.tokenizers import (
    PUNCTUATION,
    split_rune_words,
    split_semicolon_words,
    split_true_words,
    split_whole_words,
    tf_weight,
    tokenize_cols_udf,
)

CASE = "我爱北京天安门, Hello world!"


def test_whole_words():
    # T1: whole string = single term, weight 0 (common.go:86-94)
    assert split_whole_words(CASE) == [(CASE, 0)]


def test_semicolon_words():
    # T2: split on ';', dedup (common.go:97-107)
    got = dict(split_semicolon_words("c;f;c"))
    assert got == {"c": 0, "f": 0}
    # no ';' -> one term
    assert dict(split_semicolon_words("abc")) == {"abc": 0}


def test_rune_words():
    # T3: unique runes, weight 0 (common.go:110-126; index_test.go:28-40)
    got = dict(split_rune_words(CASE))
    expected_runes = set(CASE)
    assert set(got) == expected_runes
    assert all(w == 0 for w in got.values())
    # dedup: 'l' 'o' appear multiple times but once as terms
    assert len(got) == len(expected_runes)


def test_true_words_weight_law():
    # T4 fixture from index_test.go:43-51: gojieba segments
    # '我爱北京天安门' as 我/爱/北京/天安门 -> 4 single-occurrence terms,
    # weight = uint32(float32(1/4)*10000) = 2500
    got = dict(split_true_words("我爱北京天安门"))
    assert set(got) == {"我", "爱", "北京", "天安门"}
    assert all(w == 2500 for w in got.values())


def test_true_words_punctuation_and_latin():
    # latin words are whole tokens; punctuation from common.go:58-75 dropped
    got = dict(split_true_words("Hello, world! Hello"))
    assert set(got) == {"Hello", "world"}
    assert got["Hello"] == tf_weight(2, 3)
    assert got["world"] == tf_weight(1, 3)


def test_true_words_mixed():
    # the exact index_test.go:34-40 TestSplitWords input: jieba yields
    # 我/爱/北京/天安门/,/ /Hello/ /world/! and trimPunctuation drops
    # ','/' '/'!' -> 6 terms, weight uint32(float32(1/6)*10000) = 1666
    got = dict(split_true_words(CASE))
    assert set(got) == {"我", "爱", "北京", "天安门", "Hello", "world"}
    assert all(w == 1666 for w in got.values())
    assert got["Hello"] == tf_weight(1, 6)


def test_true_words_reference_corpus_fixtures():
    # field_test.go / partition_test.go corpus sentences, gojieba terms
    got = dict(split_true_words("天安门上太阳升"))
    assert set(got) == {"天安门", "上", "太阳", "升"}
    assert all(w == 2500 for w in got.values())
    got = dict(split_true_words("火红的太阳"))
    assert set(got) == {"火红", "的", "太阳"}
    assert all(w == 3333 for w in got.values())
    # partition_test.go: '张三喜欢游泳,也喜欢美食' -> 张三/喜欢/游泳/也/
    # 喜欢/美食 (6 tokens after trim; 喜欢 twice)
    got = dict(split_true_words("张三喜欢游泳,也喜欢美食"))
    assert set(got) == {"张三", "喜欢", "游泳", "也", "美食"}
    assert got["喜欢"] == tf_weight(2, 6) == 3333
    assert got["美食"] == tf_weight(1, 6) == 1666
    # jieba_test.go: whole-dict word
    got = dict(split_true_words("中华人民共和国"))
    assert got == {"中华人民共和国": 10000}
    # out-of-dictionary CJK falls back to per-rune (documented deviation)
    got = dict(split_true_words("爱婴斯坦"))
    assert set(got) == set("爱婴斯坦")


def test_tf_weight_float32_truncation():
    # the float32 path matters: 1/3*10000 in float32 = 3333.3333; Go
    # uint32() truncates -> 3333
    assert tf_weight(1, 3) == 3333
    assert tf_weight(2, 3) == 6666
    assert tf_weight(1, 1) == 10000
    assert tf_weight(0, 5) == 0
    assert tf_weight(0, 0) == 0


def test_punctuation_table_exact():
    # the empty string is a member (common.go:66 '-":true, "":true')
    assert "" in PUNCTUATION
    assert "。" in PUNCTUATION and "【" in PUNCTUATION


def test_segment_is_a_partition_of_the_input():
    """segment() must tile the input exactly (no char lost or invented),
    dictionary hit or per-rune fallback alike — the invariant that makes
    the punctuation trim and the TF totals well-defined."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spider_engine_spark.functions.tokenizers import CJK_DICT, segment

    piece = st.one_of(
        st.sampled_from(sorted(CJK_DICT)),
        st.text(
            alphabet=st.characters(
                min_codepoint=0x4E00, max_codepoint=0x4E2F
            ),
            max_size=3,
        ),
        st.text(
            alphabet="abcXYZ019_ .,;。，！?-", max_size=6
        ),
    )

    @given(st.lists(piece, max_size=8))
    @settings(max_examples=200, deadline=None)
    def check(parts):
        text = "".join(parts)
        assert "".join(segment(text)) == text

    check()


def test_udf_and_python_paths_identical_across_dict_boundary(spark):
    """The pandas-UDF path and the pure-Python path must produce
    identical (term, weight) postings for text on BOTH sides of the
    dictionary-coverage boundary: dict words, out-of-dict CJK (per-rune
    fallback), latin runs, punctuation, and mixtures crossing between
    them mid-string."""
    import itertools

    from spider_engine_spark.functions.tokenizers import (
        CJK_DICT,
        split_true_words,
        tokenize_cols_udf,
    )

    dict_words = sorted(CJK_DICT)
    fallback = ["爱婴斯坦", "砼砖", "龘"]  # not in the dictionary
    latin = ["spark", "w01_x", ""]
    punct = ["。", ", ", "【】"]
    texts = []
    for a, b, c in itertools.islice(
        itertools.product(dict_words, fallback + latin, punct), 120
    ):
        texts.append(f"{a}{b}{c}{a}")
        texts.append(f"{b}{a}{c}")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, content string"
    )
    rows = (
        df.select("doc_id", tokenize_cols_udf("words")("content").alias("tw"))
        .orderBy("doc_id")
        .collect()
    )
    for r in rows:
        expected = split_true_words(texts[r["doc_id"]])
        got = list(zip(r["tw"]["terms"], r["tw"]["weights"]))
        assert got == expected, texts[r["doc_id"]]


def test_tokenize_udf(spark):
    df = spark.createDataFrame(
        [(0, "我爱北京天安门"), (1, "天安门上太阳升"), (2, None)],
        "doc_id long, content string",
    )
    rows = (
        df.select("doc_id", tokenize_cols_udf("words")("content").alias("tw"))
        .orderBy("doc_id")
        .collect()
    )
    t0 = dict(zip(rows[0]["tw"]["terms"], rows[0]["tw"]["weights"]))
    assert set(t0) == {"我", "爱", "北京", "天安门"}
    assert all(w == 2500 for w in t0.values())
    t1 = dict(zip(rows[1]["tw"]["terms"], rows[1]["tw"]["weights"]))
    assert set(t1) == {"天安门", "上", "太阳", "升"}
    assert rows[2]["tw"]["terms"] == [] and rows[2]["tw"]["weights"] == []
