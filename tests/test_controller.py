"""REST facade parity: drive the reference's HTTP API shapes end-to-end
over localhost (controller/http.go router + database.go/document.go
handlers; response envelope = basic.Result)."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from spider_engine_spark.controller import serve


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    srv, _ = serve(spark, str(tmp_path_factory.mktemp("rest")))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address
    base = f"http://{host}:{port}"

    def call(method, path, body=None):
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(base + path, data=data, method=method)
        req.add_header("Content-Type", "application/json")
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read().decode())

    yield call
    srv.shutdown()


def test_rest_full_lifecycle(api):
    routes0 = api("GET", "/_status")["data"]["routes"]
    # POST /db — create database (controller/database.go:17-40)
    assert api("POST", "/db1")["code"] == 0
    # POST /db/table — body is the fields ARRAY (database.go:70-110)
    r = api(
        "POST",
        "/db1/user",
        [
            {"name": "user_id", "type": "primary"},
            {"name": "user_name", "type": "whole"},
            {"name": "user_age", "type": "number"},
            {"name": "user_desc", "type": "words"},
        ],
    )
    assert r["code"] == 0
    # POST /db/table/key — add docs (document.go:16-56)
    for key, name, age, desc in [
        ("10001", "张三", 20, "喜欢美食,也喜欢旅游"),
        ("10002", "李四", 28, "喜欢电影,也喜欢美食"),
        ("10003", "王二麻", 30, "喜欢养生"),
    ]:
        r = api(
            "POST",
            f"/db1/user/{key}",
            {"user_name": name, "user_age": age, "user_desc": desc},
        )
        assert r["code"] == 0 and r["data"] == key
    # duplicate PK -> error envelope (table.go:451-454)
    assert api("POST", "/db1/user/10001", {"user_name": "dup"})["code"] == 2

    # GET /db/table/key (document.go:59-81)
    r = api("GET", "/db1/user/10002")
    assert r["code"] == 0
    assert r["data"]["Detail"]["user_name"] == "李四"

    # GET /_search with the reference's SearchParam + SearchFilter keys
    r = api(
        "POST",
        "/_search",
        {
            "database": "db1",
            "table": "user",
            "fieldName": "user_desc",
            "value": "美食",
            "filters": [
                {"field": "user_age", "type": ">", "int": 25},
            ],
        },
    )
    assert r["code"] == 0
    keys = sorted(d["Key"] for d in r["data"]["docs"])
    assert keys == ["10002"]  # 美食 docs with age >= 25 (>'s >= quirk)
    # total = PRE-pagination match count (table.go:1021), not page size
    r = api(
        "POST",
        "/_search",
        {"database": "db1", "table": "user", "fieldName": "user_desc",
         "value": "美食", "size": 1},
    )
    assert len(r["data"]["docs"]) == 1 and r["data"]["total"] == 2

    # PUT of a missing key -> error envelope (table.go:614-617)
    assert api("PUT", "/db1/user/nope", {"user_name": "x"})["code"] == 2
    # duplicate database / table creation -> error (ddl.go:28-31,115-118)
    assert api("POST", "/db1")["code"] == 2
    assert api("POST", "/db1/user", [{"name": "k", "type": "primary"}])["code"] == 2

    # PATCH /db/table — addField (database.go:138-204)
    r = api(
        "PATCH",
        "/db1/user",
        {"type": "addField", "field": {"name": "score", "type": "number"}},
    )
    assert r["code"] == 0
    # PUT /db/table/key — update (document.go:84-124)
    assert (
        api(
            "PUT",
            "/db1/user/10003",
            {"user_name": "王二麻", "user_age": 31, "user_desc": "喜欢养生", "score": 7},
        )["code"]
        == 0
    )
    assert api("GET", "/db1/user/10003")["data"]["Detail"]["user_age"] == 31

    # DELETE /db/table/key (document.go:127-151)
    assert api("DELETE", "/db1/user/10002")["code"] == 0
    assert api("GET", "/db1/user/10002")["code"] == 2  # gone

    # GET /_status — engine-wide walk (spider.go:171-186)
    st = api("GET", "/_status")
    assert st["code"] == 0
    assert st["data"]["n_databases"] >= 1
    assert st["data"]["databases"]["db1"]["tables"]["user"]["real_doc_num"] == 2
    # ... plus the session's cache occupancy, which requests do not grow
    cache = st["data"]["cache"]
    assert set(cache) == {"persisted_rdds", "storage_bytes"}
    assert cache["persisted_rdds"] >= 0 and cache["storage_bytes"] >= 0
    # ... and per route the calls finished so far, failed ones included
    # (this status call is not yet counted), with their latency
    routes = st["data"]["routes"]
    calls = {
        name: r["count"] - routes0.get(name, {"count": 0})["count"]
        for name, r in routes.items()
    }
    assert {name: n for name, n in calls.items() if n} == {
        "status": 1, "create_database": 2, "create_table": 2, "add_doc": 4,
        "get_doc": 3, "search": 2, "update_doc": 2, "alter_table": 1,
        "delete_doc": 1,
    }
    assert all(0 < r["mean_ms"] <= r["max_ms"] for r in routes.values())
    for i in range(10):
        body = {"database": "db1", "table": "user", "value": "美食"}
        if i % 2:
            body["value"] = ["美食", "养生"]
        assert api("POST", "/_search", body)["code"] == 0
    for key in ("10006", "10007"):
        body = {"user_name": "x", "user_age": 40, "user_desc": "喜欢美食",
                "score": 1}
        assert api("POST", f"/db1/user/{key}", body)["code"] == 0
    after = api("GET", "/_status")["data"]["cache"]
    assert after["persisted_rdds"] <= cache["persisted_rdds"], (cache, after)

    # auto-PK table: AddDoc must return the ASSIGNED key (table.go:446)
    assert api("POST", "/db1/nopk", [{"name": "body", "type": "words"}])["code"] == 0
    r = api("POST", "/db1/nopk/ignored-key", {"body": "alpha beta"})
    assert r["code"] == 0
    assigned = r["data"]
    assert assigned != "ignored-key"
    got = api("GET", f"/db1/nopk/{assigned}")
    assert got["code"] == 0 and got["data"]["Detail"]["body"] == "alpha beta"

    # DELETE /db/table and /db
    assert api("DELETE", "/db1/user")["code"] == 0
    assert api("DELETE", "/db1")["code"] == 0

    # unknown route -> 404 body
    try:
        api("GET", "/")
        assert False, "expected 404"
    except Exception:
        pass


def test_add_with_burned_doc_id_reports_the_burn(api):
    """An add whose number field is omitted is stored with the MaxInt64
    sentinel and tombstoned at once: its docId is burned (SURVEY M3).
    The reply names the burn, a true duplicate key keeps the duplicate
    reply, and the burned key is not found."""
    assert api("POST", "/bdb")["code"] == 0
    fields = [
        {"name": "k", "type": "primary"},
        {"name": "text", "type": "words"},
        {"name": "n", "type": "number"},
    ]
    assert api("POST", "/bdb/t", fields)["code"] == 0
    assert api("POST", "/bdb/t/1", {"text": "alpha", "n": 3})["code"] == 0

    r = api("POST", "/bdb/t/2", {"text": "beta"})
    assert r["code"] == 2 and "burned" in r["data"], r
    assert "duplicate" not in r["data"], r
    r = api("POST", "/bdb/t/1", {"text": "gamma", "n": 4})
    assert r["code"] == 2 and "duplicate" in r["data"], r
    assert api("GET", "/bdb/t/2")["code"] == 2
    assert api("GET", "/bdb/t/1")["data"]["Detail"]["text"] == "alpha"
    assert api("DELETE", "/bdb")["code"] == 0


def test_filter_value_dispatch_by_field_type(api):
    """str-vs-int filter values dispatch on the field's DECLARED type
    (reference behavior), so an empty-string probe on a string field is
    expressible and an int filter carrying a stray empty 'str' key still
    reads the int."""
    assert api("POST", "/db2")["code"] == 0
    assert (
        api(
            "POST",
            "/db2/t",
            [
                {"name": "k", "type": "primary"},
                {"name": "tag", "type": "whole"},
                {"name": "n", "type": "number"},
                {"name": "body", "type": "words"},
            ],
        )["code"]
        == 0
    )
    for key, tag, n in [("1", "", 5), ("2", "x", 7)]:
        r = api(
            "POST", f"/db2/t/{key}", {"tag": tag, "n": n, "body": "alpha"}
        )
        assert r["code"] == 0

    def search(filters):
        return api(
            "POST",
            "/_search",
            {
                "database": "db2",
                "table": "t",
                "fieldName": "body",
                "value": "alpha",
                "filters": filters,
            },
        )

    # empty-string equality on a string field: must match doc 1 (the old
    # truthiness dispatch silently turned this into the integer 0)
    r = search([{"field": "tag", "type": "=", "str": ""}])
    assert [d["Key"] for d in r["data"]["docs"]] == ["1"]
    # int filter with a stray empty 'str' key present: still numeric
    r = search([{"field": "n", "type": "=", "str": "", "int": 7}])
    assert [d["Key"] for d in r["data"]["docs"]] == ["2"]
    # in/not-in range lists dispatch the same way: numeric fields read
    # iranges, string fields read sranges (forwardindex.go:589-607),
    # even when the other key is also present
    r = search([{"field": "n", "type": "in", "iranges": [7], "sranges": ["x"]}])
    assert [d["Key"] for d in r["data"]["docs"]] == ["2"]
    r = search([{"field": "tag", "type": "in", "sranges": ["x"], "iranges": [7]}])
    assert [d["Key"] for d in r["data"]["docs"]] == ["2"]

    assert api("DELETE", "/db2")["code"] == 0


def test_search_for_absent_term_is_empty(api):
    """A single-term search for a term no stored row holds has df = 0:
    an empty page with total 0, not a division by zero."""
    assert api("POST", "/adb")["code"] == 0
    fields = [
        {"name": "k", "type": "primary"},
        {"name": "body", "type": "words"},
    ]
    assert api("POST", "/adb/t", fields)["code"] == 0
    assert api("POST", "/adb/t/1", {"body": "alpha beta"})["code"] == 0
    r = api(
        "POST",
        "/_search",
        {"database": "adb", "table": "t", "fieldName": "body", "value": "zeta"},
    )
    assert r["code"] == 0, r
    assert r["data"] == {"docs": [], "total": 0}
    # a filter that removes every candidate leaves the same empty set
    r = api(
        "POST",
        "/_search",
        {
            "database": "adb", "table": "t", "fieldName": "body",
            "value": "alpha",
            "filters": [{"field": "body", "type": "=", "str": "nothing"}],
        },
    )
    assert r["code"] == 0, r
    assert r["data"] == {"docs": [], "total": 0}
    assert api("DELETE", "/adb")["code"] == 0


def test_search_on_table_with_score_field(api):
    """A user field named `score` does not collide with the rank score:
    single-term, OR and AND searches all answer with the right keys,
    rank order and totals, and each hit's Detail carries the stored
    `score`, as get_doc does."""
    assert api("POST", "/sdb")["code"] == 0
    fields = [
        {"name": "k", "type": "primary"},
        {"name": "text", "type": "words"},
        {"name": "score", "type": "number"},
    ]
    assert api("POST", "/sdb/t", fields)["code"] == 0
    for k, text, score in (
        ("1", "alpha beta", 5), ("2", "alpha", 7), ("3", "beta gamma", 9),
    ):
        body = {"text": text, "score": score}
        assert api("POST", f"/sdb/t/{k}", body)["code"] == 0

    def search(value, mode="or"):
        r = api(
            "POST",
            "/_search",
            {
                "database": "sdb", "table": "t", "fieldName": "text",
                "value": value, "mode": mode,
            },
        )
        assert r["code"] == 0, r
        hits = [(d["Key"], d["Detail"]["score"]) for d in r["data"]["docs"]]
        return hits, r["data"]["total"]

    assert api("GET", "/sdb/t/1")["data"]["Detail"]["score"] == 5
    # rank: "alpha" weighs 10000 in doc 2 and 5000 in doc 1; OR sums
    # per-term TF-IDF (doc 1: 88 + 88, doc 2: 176, doc 3: 88; ties by
    # doc_id)
    assert search("alpha") == ([("2", 7), ("1", 5)], 2)
    assert search(["alpha", "beta"]) == ([("1", 5), ("2", 7), ("3", 9)], 3)
    assert search(["alpha", "beta"], "and") == ([("1", 5)], 1)
    assert api("DELETE", "/sdb")["code"] == 0


def test_multi_term_search_via_rest(api):
    """Round-3 advice #6: the reference's request model declared a query
    LIST (search/search.go:263-320) but only single-term search shipped;
    the facade now routes a list value + mode to the Spark-native
    multi-term operators with filters/pagination applied."""
    assert api("POST", "/mdb")["code"] == 0
    assert (
        api(
            "POST",
            "/mdb/doc",
            [
                {"name": "k", "type": "primary"},
                {"name": "body", "type": "words"},
                {"name": "n", "type": "number"},
            ],
        )["code"]
        == 0
    )
    rows = [
        ("1", "alpha beta gamma", 10),
        ("2", "alpha beta", 20),
        ("3", "alpha", 30),
        ("4", "delta", 40),
    ]
    for k, body, n in rows:
        assert (
            api("POST", f"/mdb/doc/{k}", {"body": body, "n": n})["code"] == 0
        )

    # scored OR: union of alpha|gamma docs; doc 1 matches both terms so
    # it accumulates two per-term scores
    r = api(
        "POST",
        "/_search",
        {
            "database": "mdb",
            "table": "doc",
            "fieldName": "body",
            "value": ["alpha", "gamma"],
        },
    )
    assert r["code"] == 0
    keys = {d["Key"] for d in r["data"]["docs"]}
    assert keys == {"1", "2", "3"}
    assert r["data"]["total"] == 3

    # AND: intersection (docs containing BOTH alpha and beta)
    r = api(
        "POST",
        "/_search",
        {
            "database": "mdb",
            "table": "doc",
            "fieldName": "body",
            "value": ["alpha", "beta"],
            "mode": "and",
        },
    )
    assert {d["Key"] for d in r["data"]["docs"]} == {"1", "2"}

    # filters + pagination compose with the list form (>'s >= quirk)
    r = api(
        "POST",
        "/_search",
        {
            "database": "mdb",
            "table": "doc",
            "fieldName": "body",
            "value": ["alpha", "gamma"],
            "filters": [{"field": "n", "type": ">", "int": 20}],
            "size": 1,
        },
    )
    assert r["code"] == 0
    assert len(r["data"]["docs"]) == 1
    assert r["data"]["total"] == 2  # docs 2,3 (n >= 20) pre-pagination

    # duplicate terms in the list are deduplicated, not double-scored:
    # same result set as the single term
    r_dup = api(
        "POST",
        "/_search",
        {"database": "mdb", "table": "doc", "fieldName": "body",
         "value": ["alpha", "alpha"], "mode": "and"},
    )
    assert {d["Key"] for d in r_dup["data"]["docs"]} == {"1", "2", "3"}
    assert api("DELETE", "/mdb/doc")["code"] == 0
    assert api("DELETE", "/mdb")["code"] == 0
