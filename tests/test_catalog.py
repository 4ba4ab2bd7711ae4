"""Catalog/table lifecycle oracles — the reference's dominant test pattern
(write -> query -> persist -> reload -> mutate -> merge -> query,
core/table/table_test.go:33-314, SURVEY.md §5) on the F1 `user` fixture.
"""

from __future__ import annotations

import pytest

from spider_engine_spark.operators.search import SearchFilter
from spider_engine_spark.plans.catalog import Catalog

from conftest import in_job_group

FIELDS = {
    "user_id": "primary",
    "user_name": "whole",
    "user_age": "number",
    "user_desc": "words",
}

ROWS = [
    {"user_id": "10001", "user_name": "张三", "user_age": 20, "user_desc": "喜欢美食,也喜欢旅游"},
    {"user_id": "10002", "user_name": "李四", "user_age": 28, "user_desc": "喜欢电影,也喜欢美食"},
    {"user_id": "10003", "user_name": "王二麻", "user_age": 30, "user_desc": "喜欢养生"},
    {"user_id": "10004", "user_name": "爱新觉罗", "user_age": 69, "user_desc": "喜欢美食, 更喜欢打仗"},
    {"user_id": "10005", "user_name": "李世民", "user_age": 50, "user_desc": "喜欢秋香和美食"},
]


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    c = Catalog(spark, str(tmp_path_factory.mktemp("catalog")))
    c.create_database("db1")
    return c


@pytest.fixture(scope="module")
def user_table(cat):
    t = cat.create_table("db1", "user", FIELDS)
    accepted, burned = t.add_docs(ROWS)
    assert (accepted, burned) == (5, 0)
    return t


def hits(t, kw, **kw2):
    return sorted(r["user_id"] for r in t.search(kw, **kw2).collect())


def test_search_and_filters(user_table):
    # word-probe 美食, exactly as table_test.go:102-147 queries it
    # (the bundled max-match dictionary reproduces gojieba here)
    assert hits(user_table, "美食", field="user_desc") == [
        "10001", "10002", "10004", "10005",
    ]
    # between 18..22 (table_test.go:773-836)
    assert hits(
        user_table, "美食", field="user_desc",
        filters=[SearchFilter("user_age", "between", begin=18, end=22)],
    ) == ["10001"]
    # prefix 李 on the whole field
    assert hits(
        user_table, "美食", field="user_desc",
        filters=[SearchFilter("user_name", "prefix", value="李")],
    ) == ["10002", "10005"]
    # god field cross-field search (table_test.go:876-957)
    assert hits(user_table, "王二") == ["10003"]


def test_pk_lookup_and_duplicate_rejection(user_table):
    doc = user_table.get_doc("10002")
    assert doc["user_name"] == "李四" and doc["user_age"] == 28
    # duplicate PK rejected (table.go:451-454 / database_test.go:131)
    accepted, burned = user_table.add_docs(
        [{"user_id": "10002", "user_name": "dup", "user_age": 1, "user_desc": "x"}]
    )
    assert accepted == 0 and burned == 0


def test_reload_update_delete(cat, user_table):
    # S7 recovery: reload from manifests
    t2 = cat.table("db1", "user")
    assert t2.next_doc_id == user_table.next_doc_id
    assert hits(t2, "美食", field="user_desc") == [
        "10001", "10002", "10004", "10005",
    ]
    # M2 update: new docId, old tombstoned (table.go:568-690)
    assert t2.update_doc(
        "10001",
        {"user_name": "张三", "user_age": 21, "user_desc": "只喜欢旅游"},
    )
    doc = t2.get_doc("10001")
    assert doc["user_age"] == 21
    assert hits(t2, "美食", field="user_desc") == ["10002", "10004", "10005"]
    # M1 delete
    assert t2.delete_doc("10002")
    assert t2.get_doc("10002") is None
    assert hits(t2, "美食", field="user_desc") == ["10004", "10005"]
    assert not t2.delete_doc("no_such_pk")


def test_burned_docid_consistency(cat):
    """M3: wrong-typed rows consume docIds but are tombstoned; counters
    stay aligned (table_test.go:437-624)."""
    t = cat.create_table(
        "db1", "burn", {"k": "primary", "age": "number", "body": "words"}
    )
    accepted, burned = t.add_docs(
        [
            {"k": "a", "age": 10, "body": "good row"},
            {"k": "b", "age": "not_a_number", "body": "bad row"},
            {"k": "c", "age": 30, "body": "good again"},
        ]
    )
    assert (accepted, burned) == (2, 1)
    assert t.next_doc_id == 3  # burned id consumed
    st = t.status()
    assert st["real_doc_num"] == 2 and st["deleted"] == 1
    # the burned doc is not searchable
    assert sorted(r["k"] for r in t.search("row", field="body").collect()) == ["a"]


def test_schema_evolution(cat):
    t = cat.create_table(
        "db1", "evo", {"k": "primary", "body": "words"}
    )
    t.add_docs([{"k": "x", "body": "hello world"}])
    # S6 add field: METADATA-ONLY — the base table's data dirs must not
    # be touched (field.go:57-76's lazy fake field; at 100 TB an ALTER
    # cannot rewrite data)
    dirs_before = list(t.io._entry("evo__base")["dirs"])
    t.add_field("score", "number")
    assert t.io._entry("evo__base")["dirs"] == dirs_before
    with pytest.raises(ValueError, match="reserved"):
        t.add_field("doc_id", "number")  # the engine's docId column
    t.add_docs([{"k": "y", "body": "hello again", "score": 7}])
    doc_x, doc_y = t.get_doc("x"), t.get_doc("y")
    assert doc_y["score"] == 7
    from spider_engine_spark.operators.search import MAX_INT64

    assert doc_x["score"] == MAX_INT64  # sentinel for pre-evolution rows
    # sentinel rows excluded from numeric filters (forwardindex.go:580)
    got = sorted(
        r["k"]
        for r in t.search(
            "hello", field="body",
            filters=[SearchFilter("score", ">", value=0)],
        ).collect()
    )
    assert got == ["y"]
    # S6 delete field: logical hide
    t.delete_field("score")
    assert "score" not in t.get_doc("y")
    with pytest.raises(ValueError):
        t.delete_field("k")  # cannot delete the PK


def test_auto_pk_and_update_unsupported(cat):
    t = cat.create_table("db1", "nopk", {"body": "words"})
    accepted, _ = t.add_docs([{"body": "alpha beta"}, {"body": "beta gamma"}])
    assert accepted == 2
    rows = t.search("beta", field="body").collect()
    assert len(rows) == 2
    with pytest.raises(ValueError):
        t.update_doc("anything", {"body": "nope"})  # table.go:581-583


def test_compact_preserves_results(cat):
    t = cat.table("db1", "user")
    before = hits(t, "美食", field="user_desc")
    t.compact()
    assert hits(t, "美食", field="user_desc") == before
    # compacted postings read from a single snapshot dir
    assert len(t.io._entry("user__postings")["dirs"]) == 1


def test_drop_table(cat):
    cat.create_table("db1", "tmp", {"body": "words"}).add_docs(
        [{"body": "zzz"}]
    )
    cat.drop_table("db1", "tmp")
    with pytest.raises(FileNotFoundError):
        cat.table("db1", "tmp")


def test_list_and_word_field_types(cat):
    """Internal index types: 'list' (semicolon, IDX_TYPE_STR_LIST) and
    'word' (per-rune, IDX_TYPE_STR_WORD), common.go:15-16."""
    t = cat.create_table(
        "db1", "tags", {"k": "primary", "tags": "list", "cjk": "word"}
    )
    t.add_docs(
        [
            {"k": "1", "tags": "a;c", "cjk": "北京"},
            {"k": "2", "tags": "c;f", "cjk": "南京"},
            {"k": "3", "tags": "b;d", "cjk": "东京"},
        ]
    )
    assert sorted(
        r["k"] for r in t.search("c", field="tags").collect()
    ) == ["1", "2"]
    assert sorted(
        r["k"] for r in t.search("京", field="cjk").collect()
    ) == ["1", "2", "3"]
    assert [r["k"] for r in t.search("北", field="cjk").collect()] == ["1"]


def test_filter_type_validation(user_table):
    """checkFilters parity (table.go:1075-1114)."""
    with pytest.raises(ValueError, match="should be number or time"):
        user_table.search(
            "美食", field="user_desc",
            filters=[SearchFilter("user_name", ">", value=1)],
        )
    with pytest.raises(ValueError, match="should be string"):
        user_table.search(
            "美食", field="user_desc",
            filters=[SearchFilter("user_age", "prefix", value="2")],
        )
    with pytest.raises(ValueError, match="not exist"):
        user_table.search(
            "美食", field="user_desc",
            filters=[SearchFilter("nope", "=", value=1)],
        )


def test_add_docs_df_distributed_ingest(cat, spark):
    """Distributed ingest path: DataFrame in, same semantics (the
    reference-scale corpus-import path, TODO:4-8)."""
    from pyspark.sql import functions as F

    t = cat.create_table(
        "db1", "bulk", {"k": "primary", "n": "number", "body": "words"}
    )
    df = spark.range(1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").alias("n"),
        F.concat(F.lit("term"), (F.col("id") % 7)).alias("body"),
    )
    accepted, burned = t.add_docs_df(df)
    assert (accepted, burned) == (1000, 0)
    assert t.status()["real_doc_num"] == 1000
    got = t.search("term3", field="body").count()
    # clamp to top-100 page (reference default)
    assert got == 100
    from spider_engine_spark.operators.postings import query_term

    assert query_term(t.postings(), "body", "term3").count() == 143


def test_json_ingest_with_float_truncation(cat, spark, tmp_path):
    """The reference ingests JSON docs; JSON numbers arrive as float64 and
    are truncated back to int (forwardindex.go:126-130). Same pipeline:
    spark.read.json -> add_docs_df."""
    import json as _json

    p = tmp_path / "docs.jsonl"
    rows = [
        {"k": "j1", "score": 41.9, "body": "json ingest path"},
        {"k": "j2", "score": 7, "body": "second json row"},
        {"k": "j3", "body": "missing score field"},
    ]
    p.write_text("\n".join(_json.dumps(r) for r in rows))
    t = cat.create_table(
        "db1", "jsonl", {"k": "primary", "score": "number", "body": "words"}
    )
    df = spark.read.json(str(p))
    accepted, burned = t.add_docs_df(df)
    # j3 lacks the number field: sentinel-padded AND burned — exactly the
    # reference's consistency case (missing user_age burns the docId,
    # table_test.go:437-624)
    assert (accepted, burned) == (2, 1)
    assert t.get_doc("j1")["score"] == 41  # float64 -> int truncation
    assert t.get_doc("j2")["score"] == 7
    assert t.get_doc("j3") is None  # burned -> tombstoned
    assert sorted(
        r["k"] for r in t.search("json", field="body").collect()
    ) == ["j1", "j2"]


def test_reload_preserves_fills_and_buckets(cat):
    """S7: metadata-only ALTER state survives recovery from manifests."""
    t = cat.create_table(
        "db1", "evo2", {"k": "primary", "body": "words"}, term_buckets=16
    )
    t.add_docs([{"k": "a", "body": "one two"}])
    t.add_field("note", "whole")
    t2 = cat.table("db1", "evo2")
    assert t2.term_buckets == 16
    assert t2.fills == {"note": ""}
    assert t2.get_doc("a")["note"] == ""  # fill applied at read
    # term probe with a non-default bucket modulus still resolves
    assert [r["k"] for r in t2.search("two", field="body").collect()] == ["a"]


def test_engine_wide_status(cat):
    """Q12 full form: engine -> databases -> tables walk
    (spider.go:171-186)."""
    cat.create_database("db_status")
    t = cat.create_table("db_status", "s1", {"k": "primary", "b": "words"})
    t.add_docs([{"k": "1", "b": "x y"}, {"k": "2", "b": "y z"}])
    st = cat.status()
    assert st["n_databases"] >= 2  # db1 from the fixtures + db_status
    s1 = st["databases"]["db_status"]["tables"]["s1"]
    assert s1["real_doc_num"] == 2 and s1["next_doc_id"] == 2
    assert st["n_tables"] >= 2


def test_incremental_compaction_reuses_large_dirs(cat, spark):
    """I10 merge planner: only undersized snapshot dirs are folded; dirs
    over the threshold are referenced untouched (table.go:874-971)."""
    t = cat.create_table("db1", "inc", {"k": "primary", "b": "words"})
    for i in range(3):
        t.add_docs([{"k": f"k{i}", "b": f"w{i} common"}])
    entry = t.io._entry("inc__base")
    assert len(entry["dirs"]) == 3
    big = entry["dirs"][0]  # pretend the first snapshot is already large
    t.io.compact_small(
        spark, "inc__base",
        max_bytes=t.io._dir_bytes(big) - 1 if t.io._dir_bytes(big) > 1 else 1,
    )
    # with every dir >= threshold nothing merges
    assert len(t.io._entry("inc__base")["dirs"]) == 3
    v = t.io.compact_small(spark, "inc__base", max_bytes=1 << 30)
    assert v is not None
    merged = t.io._entry("inc__base")["dirs"]
    assert len(merged) == 1  # all were undersized -> one dir
    # partial: append two more snapshots, merge with the merged dir big
    t.add_docs([{"k": "k3", "b": "w3"}])
    t.add_docs([{"k": "k4", "b": "w4"}])
    threshold = t.io._dir_bytes(merged[0])
    t.io.compact_small(spark, "inc__base", max_bytes=threshold)
    after = t.io._entry("inc__base")["dirs"]
    assert merged[0] in after  # large dir reused untouched
    assert len(after) == 2  # big + one merged small dir
    assert t.base().count() == 5


def test_temporal_filter_on_date_column(spark, tmp_path):
    """A SearchFilter on a date/timestamp field must not throw under
    ANSI (cast DATE->long is illegal; epoch_col converts explicitly)."""
    import datetime

    from spider_engine_spark.operators.search import (
        SearchFilter,
        and_filters,
    )

    df = spark.createDataFrame(
        [
            (1, datetime.date(2024, 1, 1)),
            (2, datetime.date(2024, 6, 1)),
            (3, None),
        ],
        "doc_id long, d date",
    )
    cond = and_filters(
        df,
        [SearchFilter("d", ">", value=1704067200)],  # 2024-01-01 epoch
        numeric_fields={"d"},
        temporal_types={"d": "date"},
    )
    got = sorted(r["doc_id"] for r in df.filter(cond).collect())
    assert got == [1, 2]  # reference '>' evaluates >=; null excluded


def test_instant_timestamp_filter_tz_independent(spark):
    """Numeric filter values on an instant TIMESTAMP field must mean true
    epoch seconds regardless of spark.sql.session.timeZone (the NTZ
    wall-clock component expression would shift with it)."""
    from pyspark.sql import functions as F

    from spider_engine_spark.operators.search import epoch_col

    df = spark.createDataFrame([(1,)], "doc_id long").select(
        "doc_id", F.timestamp_seconds(F.lit(1704067200)).alias("t")
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    got = {}
    try:
        for tz in ("UTC", "Asia/Shanghai"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got[tz] = df.select(
                epoch_col("t", "timestamp").alias("e")
            ).first()["e"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got["UTC"] == got["Asia/Shanghai"] == 1704067200


def test_multi_term_table_search(cat):
    """Round-3 advice #6: Table.search accepts a term LIST routed to the
    scored-OR / AND operators with filters + pagination applied."""
    t = cat.create_table("db1", "multi", FIELDS)
    t.add_docs(ROWS)

    # OR: union of 美食|秋香 docs (秋香 appears in 10001 and 10005)
    got = sorted(
        r["user_id"]
        for r in t.search(["美食", "秋香"], field="user_desc").collect()
    )
    assert got == ["10001", "10002", "10004", "10005"]

    # AND: docs containing BOTH (only 10005 has 秋香)
    got = sorted(
        r["user_id"]
        for r in t.search(
            ["美食", "秋香"], field="user_desc", mode="and"
        ).collect()
    )
    assert got == ["10005"]
    # AND over a common term intersects correctly (喜欢 is in all five)
    got = sorted(
        r["user_id"]
        for r in t.search(
            ["美食", "喜欢"], field="user_desc", mode="and"
        ).collect()
    )
    assert got == ["10001", "10002", "10004", "10005"]

    # filters compose (>= quirk: > 50 admits age 50)
    got = sorted(
        r["user_id"]
        for r in t.search(
            ["美食", "秋香"], field="user_desc",
            filters=[SearchFilter("user_age", ">", value=50)],
        ).collect()
    )
    assert got == ["10004", "10005"]

    # pagination clamp + _total on the list form
    rows = t.search(
        ["美食", "秋香"], field="user_desc", size=2, keep_total=True
    ).collect()
    assert len(rows) == 2 and rows[0]["_total"] == 4


def test_in_batch_duplicate_pk_deterministic(cat):
    """Round-4 verdict #6: when one batch carries the same PK twice with
    DIFFERENT content, the surviving row must be deterministic (the
    reference's serialized writer keeps first-arrived; 'first' is
    undefined distributively, so the rule here is smallest JSON encoding
    of the full row). Two identical runs must keep identical rows."""
    survivors = []
    for i in range(2):
        t = cat.create_table("db1", f"dupdet{i}", FIELDS)
        rows = [
            {"user_id": "1", "user_name": "zzz", "user_age": 9, "user_desc": "b"},
            {"user_id": "1", "user_name": "aaa", "user_age": 1, "user_desc": "a"},
            {"user_id": "1", "user_name": "mmm", "user_age": 5, "user_desc": "m"},
            {"user_id": "2", "user_name": "solo", "user_age": 2, "user_desc": "s"},
        ]
        accepted, burned = t.add_docs(rows)
        assert (accepted, burned) == (2, 0)
        survivors.append(
            {r["user_id"]: (r["user_name"], r["user_age"])
             for r in t.base().collect()}
        )
        cat.drop_table("db1", f"dupdet{i}")
    assert survivors[0] == survivors[1]
    assert set(survivors[0]) == {"1", "2"}


def test_pruned_postings_probe_is_exact(cat):
    """Table.search reads only the probed terms' term_bucket dirs. Over
    a 2-dir postings chain with a non-default modulus, query_term over
    the pruned read equals query_term over the full postings for every
    stored term, a non-ASCII term, '' and an absent term; the driver's
    bucket equals the term_bucket written with each row."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from spider_engine_spark.operators.postings import query_term

    t = cat.create_table(
        "db1", "prune", {"k": "primary", "body": "words", "tag": "whole"},
        term_buckets=16,
    )
    t.add_docs([
        {"k": "a", "body": "red fox jumps", "tag": "animal"},
        {"k": "b", "body": "lazy dog sleeps", "tag": "animal"},
        {"k": "c", "body": "喜欢美食", "tag": "食物"},
    ])
    t.add_docs([
        {"k": "d", "body": "red dog runs", "tag": "pet"},
        {"k": "e", "body": "美食 fox", "tag": "food"},
    ])
    assert len(t.io._entry("prune__postings")["dirs"]) == 2
    full = t.postings()
    written = {
        (r["term"], r["term_bucket"])
        for r in full.select("term", "term_bucket").distinct().collect()
    }
    fields = sorted(r["field"] for r in full.select("field").distinct().collect())
    for term, bucket in written:
        assert t._buckets_of([term]) == {bucket}, term

    def probe(postings, term):
        return sorted(
            tuple(r)
            for r in reduce(
                DataFrame.unionByName,
                [
                    query_term(postings, f, term, term_buckets=16)
                    .withColumn("field", F.lit(f))
                    for f in fields
                ],
            ).collect()
        )

    terms = sorted({term for term, _ in written}) + ["日本語", "", "absent"]
    for term in terms:
        assert probe(t.postings([term]), term) == probe(full, term), term
    assert probe(full, "red") and probe(full, "absent") == []
    assert t.postings([]).count() == 0


def test_add_docs_rows_are_local_and_round_trip(cat, monkeypatch):
    """add_docs' rows frame is an Arrow-backed LocalRelation (no Python
    worker decodes it), and None, non-ASCII and numeric-string values
    round-trip through get_doc."""
    from spider_engine_spark.plans.catalog import Table

    t = cat.create_table(
        "db1", "local_rows",
        {"k": "primary", "body": "words", "tag": "whole", "n": "number"},
    )
    seen = []
    inner = Table.add_docs_df
    monkeypatch.setattr(
        Table, "add_docs_df", lambda self, raw: seen.append(raw) or inner(self, raw)
    )
    assert t.add_docs([
        {"k": "1", "body": None, "tag": "日本語", "n": "42"},
        {"k": "2", "body": "007", "tag": None, "n": 3.9},
    ]) == (2, 0)
    plan = seen[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert t.get_doc("1") == {
        "doc_id": 0, "k": "1", "body": None, "tag": "日本語", "n": 42,
    }
    assert t.get_doc("2") == {
        "doc_id": 1, "k": "2", "body": "007", "tag": None, "n": 3,
    }


def test_meta_commits_are_manifest_only(cat):
    """Only table creation writes the __meta marker; later meta changes
    commit to the manifest alone, and a reloaded Table sees the latest
    counters and schema state."""
    t = cat.create_table("db1", "metaonly", {"k": "primary", "body": "words"})
    for i in range(3):
        t.add_docs([{"k": str(i), "body": f"row {i}"}])
    t.add_field("note", "whole")
    t.add_field("gone", "whole")
    t.delete_field("gone")
    t.add_docs([{"k": "9", "body": "last", "note": "n"}])
    assert len(t.io._entry("metaonly__meta")["dirs"]) == 1
    t2 = cat.table("db1", "metaonly")
    assert t2.next_doc_id == t.next_doc_id == 4
    assert t2.fields == t.fields and "note" in t2.fields
    assert t2.hidden == {"gone"} and t2.fills == t.fills
    assert t2.get_doc("9")["note"] == "n" and t2.get_doc("0")["note"] == ""


def test_search_is_one_lazy_plan(cat, spark):
    """For a term, '', OR and AND, Table.search builds its frame without
    running a Spark job, collecting it caches nothing, and the executed
    plan has no range exchange and no cached-frame scan."""
    sc = spark.sparkContext
    t = cat.create_table(
        "db1", "lazyplan", {"k": "primary", "body": "words", "n": "number"}
    )
    t.add_docs([
        {"k": "1", "body": "red fox", "n": 1},
        {"k": "2", "body": "red dog", "n": 2},
    ])
    t.add_docs([{"k": "3", "body": "red dog runs", "n": 3}])
    t.delete_doc("1")
    for kw, mode in (
        ("red", "or"), ("", "or"), (["red", "dog"], "or"),
        (["red", "dog"], "and"),
    ):
        frame, jobs, _ = in_job_group(spark, lambda: t.search(
            kw, field="body", mode=mode, size=1, keep_total=True,
            filters=[SearchFilter("n", ">", value=3)],  # >= 3
        ))
        assert jobs == [], kw
        persisted = len(sc._jsc.getPersistentRDDs())
        rows = frame.collect()
        assert [(r["k"], r["_total"]) for r in rows] == [("3", 1)], kw
        assert len(sc._jsc.getPersistentRDDs()) == persisted, kw
        plan = frame._jdf.queryExecution().executedPlan().toString().lower()
        assert "rangepartitioning" not in plan, plan
        assert "inmemorytablescan" not in plan, plan


def _postings_of(t) -> dict[tuple[str, str], list[tuple[int, int]]]:
    return {
        (r["field"], r["term"]): [
            (p["doc_id"], p["weight"]) for p in r["postings"]
        ]
        for r in t.postings().collect()
    }


def _python_postings(t, rows) -> dict[tuple[str, str], list[tuple[int, int]]]:
    """The pure-Python tokenize() oracle of a table's postings: every
    indexed field, plus the god field over their '。'-joined values."""
    from spider_engine_spark.functions.tokenizers import tokenize
    from spider_engine_spark.operators.postings import GOD_FIELD, GOD_JOIN

    ids = {r[t.pk]: r["doc_id"] for r in t.base().collect()}
    fields = t._indexed_fields()
    want: dict[tuple[str, str], list[tuple[int, int]]] = {}
    for row in rows:
        values = {f: row.get(f) for f in fields}
        god = GOD_JOIN.join(values[f] or "" for f in fields)
        for f, mode, value in [
            *((f, m, values[f]) for f, m in fields.items()),
            (GOD_FIELD, "words", god),
        ]:
            if value is None:
                continue
            for term, weight in tokenize(value, mode):
                want.setdefault((f, term), []).append((ids[row[t.pk]], weight))
    return {k: sorted(v) for k, v in want.items()}


def test_degenerate_ingest_values_match_python_tokenizer(cat):
    """One batch with a NULL words value, an empty string, an oversize
    printable-ASCII value (past the native gate's 4096 chars) and a CJK
    value gives the pure-Python tokenizer's postings, as does the
    all-ASCII batch before it (which plans no Python fallback)."""
    t = cat.create_table(
        "db1", "degenerate", {"k": "primary", "text": "words"}
    )
    ascii_rows = [
        {"k": "a1", "text": "alpha beta alpha"},
        {"k": "a2", "text": "beta, gamma; delta!"},
    ]
    assert t.add_docs(ascii_rows) == (2, 0)
    assert _postings_of(t) == _python_postings(t, ascii_rows)
    oversize = " ".join(f"w{i % 37}" for i in range(1500))
    assert len(oversize) > 4096 and oversize.isascii()
    mixed = [
        {"k": "m_null", "text": None},
        {"k": "m_empty", "text": ""},
        {"k": "m_oversize", "text": oversize},
        {"k": "m_cjk", "text": "喜欢美食, 天安门 alpha"},
        {"k": "m_ascii", "text": "gamma gamma delta"},
    ]
    assert t.add_docs(mixed) == (5, 0)
    assert _postings_of(t) == _python_postings(t, ascii_rows + mixed)


SERVE_FIELDS = {
    "key": "primary", "text": "words", "lang": "whole", "source": "whole",
    "n_chars": "number",
}


def test_ascii_add_plans_no_python_tokenizer(cat, spark):
    """On a serve-shaped table an all-ASCII one-row add runs no Python
    node and at most 12 jobs; a CJK add still plans the pandas-UDF
    fallback and indexes exactly like the Python tokenizer."""
    t = cat.create_table("db1", "serve_shape", SERVE_FIELDS)
    seed = [
        {"key": f"s{i}", "text": f"spark search {i} index", "lang": "en",
         "source": "web", "n_chars": 20 + i}
        for i in range(20)
    ]
    t.add_docs(seed)
    row = {"key": "ascii", "text": "one more ascii row", "lang": "en",
           "source": "web", "n_chars": 18}
    _, jobs, python_nodes = in_job_group(spark, lambda: t.add_docs([row]))
    assert python_nodes == 0
    assert len(jobs) <= 12, jobs
    cjk = {"key": "cjk", "text": "喜欢美食 spark", "lang": "zh",
           "source": "web", "n_chars": 8}
    _, _, python_nodes = in_job_group(spark, lambda: t.add_docs([cjk]))
    assert python_nodes > 0
    assert _postings_of(t) == _python_postings(t, seed + [row, cjk])


def test_window_warning_logger_is_quiet(cat, spark):
    """Search's single-partition windows would log a WindowExec WARN on
    every call; the session raises only that logger to ERROR."""
    t = cat.create_table("db1", "quietlog", {"k": "primary", "body": "words"})
    t.add_docs([{"k": "1", "body": "red fox"}, {"k": "2", "body": "red dog"}])
    assert len(t.search("red", field="body").collect()) == 2
    logs = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager
    window = logs.getLogger("org.apache.spark.sql.execution.window.WindowExec")
    assert window.getLevel().toString() == "ERROR"
    assert not window.isWarnEnabled()
    sibling = logs.getLogger("org.apache.spark.sql.execution.window")
    root = logs.getRootLogger()
    assert sibling.getLevel().toString() == root.getLevel().toString()
