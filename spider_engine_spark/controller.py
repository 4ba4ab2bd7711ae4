"""REST facade: the reference's HTTP controller surface on the Spark engine.

Mirrors /root/reference/controller/http.go's router and
controller/{database,document}.go's handlers route-for-route, so a user
of the reference can point the same curl scripts here:

    GET    /_status            engine-wide status walk (spider.go:171-186)
                               plus the session's cache occupancy and
                               each route's request count and latency
    GET    /_search            search (JSON body: engine.SearchParam)
    GET    /db/table/key       get document
    POST   /db                 create database
    POST   /db/table           create table (body: [{name, type}, ...])
    POST   /db/table/key       add document (body: content map)
    PUT    /db/table/key       update document (body: content map)
    DELETE /db                 drop database
    DELETE /db/table           drop table
    DELETE /db/table/key       delete document
    PATCH  /db/table           alter (body: {type: addField|delField, field})

Response envelope = basic.Result (basic/struct.go:79-107):
{"code": 0|1|2, "msg": "ok"|"failed"|"error", "data": ...} with
search returning {"docs": [{"Key", "Detail"}...], "total"} and filters
accepting the reference's JSON keys (field/type/str/int/begin/end/
iranges/sranges — basic/struct.go:61-69).

The server is Python stdlib (ThreadingHTTPServer) fronting the Catalog —
a control plane, not a data plane: every data operation is a Spark job
underneath, exactly as the reference's controller delegates to its
engine singleton. POST /_search is also accepted (GET-with-body is the
reference's quirk; both route to the same handler).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from spider_engine_spark.operators.search import SearchFilter
from spider_engine_spark.pins import occupancy, scope
from spider_engine_spark.plans.catalog import Catalog

RET_OK, RET_FAILED, RET_ERROR = 0, 1, 2


def _result(code: int, data) -> dict:
    return {
        "code": code,
        "msg": {RET_OK: "ok", RET_FAILED: "failed", RET_ERROR: "error"}[code],
        "data": data,
    }


def ok(data="") -> dict:
    return _result(RET_OK, data)


def error(data) -> dict:
    return _result(RET_ERROR, str(data))


def _to_filter(d: dict, field_types: dict | None = None) -> SearchFilter:
    """basic.SearchFilter JSON -> SearchFilter (keys from struct.go:61-69).

    str-vs-int is dispatched on the filtered field's DECLARED type (the
    reference switches on the field's index type, not on value
    truthiness) so an empty-string =/!=/prefix probe is expressible;
    for unknown fields it falls back to which JSON key is present."""
    op = d.get("type", "=")
    ftype = (field_types or {}).get(d.get("field", ""))
    numeric = ftype in ("number", "time") if ftype is not None else None
    values: tuple = ()
    if op in ("in", "not in"):
        # same declared-type dispatch for the range lists: the reference
        # reads RangeNums for numeric fields and RangeStrs for string
        # fields (forwardindex.go:589-607), not whichever key is present
        if numeric is True:
            values = tuple(d.get("iranges") or [])
        elif numeric is False:
            values = tuple(d.get("sranges") or [])
        else:
            values = tuple(d.get("iranges") or []) or tuple(
                d.get("sranges") or []
            )
    if numeric is not None:
        value = d.get("int", 0) if numeric else d.get("str", "")
    elif "str" in d:
        value = d["str"]
    else:
        value = d.get("int", 0)
    return SearchFilter(
        field=d.get("field", ""),
        op=op,
        value=value,
        begin=d.get("begin"),
        end=d.get("end"),
        values=values,
    )


def _route(fn):
    """Run a route inside its own pins.scope() and record its call count
    and latency (also when it raises) in the controller's route stats."""

    @functools.wraps(fn)
    def route(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            with scope():
                return fn(self, *a, **kw)
        finally:
            ms = (time.perf_counter() - t0) * 1000
            with self._stats_lock:
                n, total, worst = self._stats.get(fn.__name__, (0, 0.0, 0.0))
                self._stats[fn.__name__] = (n + 1, total + ms, max(worst, ms))

    return route


class SpiderController:
    """Handler logic, separated from HTTP plumbing (unit-testable).

    Every route runs inside its own pins.scope(): whatever a request
    pins is released once its response is built, so a long-lived server
    does not accumulate cached blocks. A search pins nothing (it is one
    lazy plan) and an ingest frees its own checkpoints; the scope guards
    any route that comes to pin. The same wrapper counts and times each
    route for the status route."""

    def __init__(self, spark: SparkSession, root: str):
        self.catalog = Catalog(spark, root)
        self._lock = threading.Lock()  # the reference serializes writes (C1)
        self._stats: dict[str, tuple[int, float, float]] = {}
        self._stats_lock = threading.Lock()

    # -- routes ---------------------------------------------------------
    @_route
    def status(self) -> dict:
        """The engine walk, the session's cache occupancy, and per route
        the calls finished so far (this one not yet) with their mean and
        max latency in ms."""
        with self._stats_lock:
            routes = {
                name: {
                    "count": n,
                    "mean_ms": round(total / n, 3),
                    "max_ms": round(worst, 3),
                }
                for name, (n, total, worst) in sorted(self._stats.items())
            }
        return ok(
            {
                **self.catalog.status(),
                "cache": occupancy(self.catalog.spark),
                "routes": routes,
            }
        )

    @_route
    def create_database(self, db: str) -> dict:
        with self._lock:
            self.catalog.create_database(db)
        return ok()

    @_route
    def drop_database(self, db: str) -> dict:
        with self._lock:
            self.catalog.drop_database(db)
        return ok()

    @_route
    def create_table(self, db: str, table: str, fields_param: list) -> dict:
        fields = {f["name"]: f["type"] for f in fields_param}
        with self._lock:
            self.catalog.create_table(db, table, fields)
        return ok()

    @_route
    def drop_table(self, db: str, table: str) -> dict:
        with self._lock:
            self.catalog.drop_table(db, table)
        return ok()

    @_route
    def alter_table(self, db: str, table: str, body: dict) -> dict:
        op = body.get("type")
        if op not in ("addField", "delField"):
            return error(f"No support opType: {op}")
        fld = body.get("field", {})
        with self._lock:
            t = self.catalog.table(db, table)
            if op == "addField":
                t.add_field(fld["name"], fld["type"])
            else:
                t.delete_field(fld["name"])
        return ok()

    @_route
    def add_doc(self, db: str, table: str, key: str, content: dict) -> dict:
        import uuid as _uuid

        with self._lock:
            t = self.catalog.table(db, table)
            row = {k: v for k, v in content.items()}
            from spider_engine_spark.plans.catalog import AUTO_PK

            if t.pk == AUTO_PK:
                # auto-PK table: the URL key is ignored; generate the
                # key here so it can be returned, matching the
                # reference's AddDoc contract (it returns the ASSIGNED
                # primary key, table.go:446)
                key = _uuid.uuid4().hex
            row[t.pk] = key
            accepted, burned = t.add_docs([row])
        if burned:
            # the row is stored but tombstoned: its docId is burned (M3)
            return error(
                "add failed: a number/time field is missing or "
                "unparseable (the docId is burned)"
            )
        if accepted == 0:
            return error("add failed (duplicate primary key?)")
        return ok(key)

    @_route
    def get_doc(self, db: str, table: str, key: str) -> dict:
        d = self.catalog.table(db, table).get_doc(key)
        if d is None:
            return error("document not found")
        d.pop("doc_id", None)
        return ok({"Key": key, "Detail": d})

    @_route
    def update_doc(self, db: str, table: str, key: str, content: dict) -> dict:
        with self._lock:
            found = self.catalog.table(db, table).update_doc(key, content)
        if not found:
            # the reference fails an update of a missing doc
            # (table.go:614-617)
            return error(f"can not find the doc {key}, update failed")
        return ok(key)

    @_route
    def delete_doc(self, db: str, table: str, key: str) -> dict:
        with self._lock:
            found = self.catalog.table(db, table).delete_doc(key)
        return ok() if found else error("document not found")

    @_route
    def search(self, p: dict) -> dict:
        t = self.catalog.table(p["database"], p["table"])
        filters = [_to_filter(f, t.fields) for f in p.get("filters") or []]
        # value may be a single keyword (reference-exact) or a LIST of
        # terms — the query-list request shape the reference's model
        # declared (search.go:263-320); mode: 'or' (default) | 'and'
        value = p.get("value", "")
        mode = p.get("mode", "or")
        # validate the list request shape up front so a malformed call
        # gets a reference-style validation envelope, not the generic
        # handler-exception one (search() would raise ValueError)
        if isinstance(value, (list, tuple)):
            if not value:
                return error("search value list must not be empty")
            if not all(isinstance(v, str) for v in value):
                return error("search value list items must be strings")
        if mode not in ("or", "and"):
            return error(f"unknown search mode {mode!r} (use 'or' or 'and')")
        # the reply carries no rank score: rank under a name no field
        # holds, so a stored field named `score` reaches Detail
        rank = "_score"
        while rank in t.fields:
            rank = "_" + rank
        page = t.search(
            list(value) if isinstance(value, (list, tuple)) else value,
            field=p.get("fieldName", ""),
            filters=filters,
            offset=int(p.get("offset", 0)),
            size=int(p.get("size", 0)),
            keep_total=True,
            mode=mode,
            rank_col=rank,
        ).collect()
        docs = []
        total = 0
        for r in page:
            d = r.asDict()
            # total = the PRE-pagination match count (the reference's
            # SearchDocs returns (docs, total), table.go:1021)
            total = d.pop("_total", total)
            d.pop("doc_id", None)
            d.pop(rank, None)
            docs.append({"Key": d.get(t.pk, ""), "Detail": d})
        return ok({"docs": docs, "total": total})


class _Handler(BaseHTTPRequestHandler):
    controller: SpiderController  # set by serve()

    def _body(self) -> dict | list:
        n = int(self.headers.get("Content-Length") or 0)
        if not n:
            return {}
        return json.loads(self.rfile.read(n).decode("utf-8"))

    def _reply(self, payload: dict, status: int = 200) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _route(self):
        parts = [p for p in self.path.strip("/").split("/") if p]
        c = self.controller
        try:
            m = self.command
            if m == "GET":
                if parts == ["_status"]:
                    return self._reply(c.status())
                if parts == ["_search"]:
                    return self._reply(c.search(self._body()))
                if len(parts) == 3:
                    return self._reply(c.get_doc(*parts))
            elif m == "POST":
                if parts == ["_search"]:
                    return self._reply(c.search(self._body()))
                if len(parts) == 1:
                    return self._reply(c.create_database(parts[0]))
                if len(parts) == 2:
                    return self._reply(
                        c.create_table(parts[0], parts[1], self._body())
                    )
                if len(parts) == 3:
                    return self._reply(c.add_doc(*parts, self._body()))
            elif m == "PUT":
                if len(parts) == 3:
                    return self._reply(c.update_doc(*parts, self._body()))
            elif m == "DELETE":
                if len(parts) == 1:
                    return self._reply(c.drop_database(parts[0]))
                if len(parts) == 2:
                    return self._reply(c.drop_table(parts[0], parts[1]))
                if len(parts) == 3:
                    return self._reply(c.delete_doc(*parts))
            elif m == "PATCH":
                if len(parts) == 2:
                    return self._reply(
                        c.alter_table(parts[0], parts[1], self._body())
                    )
            return self._reply({"error": "404 Not Found"}, status=404)
        except Exception as e:  # handler errors -> error envelope, HTTP 200
            return self._reply(error(e))  # (matches the reference)

    do_GET = do_POST = do_PUT = do_DELETE = do_PATCH = _route

    def log_message(self, *a):  # quiet
        pass


def serve(
    spark: SparkSession, root: str, port: int = 0
) -> tuple[ThreadingHTTPServer, SpiderController]:
    """Start the REST facade on localhost:port (0 = ephemeral); returns
    (server, controller). Caller runs server.serve_forever() or uses
    the returned server.server_address and shuts down with
    server.shutdown()."""
    controller = SpiderController(spark, root)
    handler = type("BoundHandler", (_Handler,), {"controller": controller})
    srv = ThreadingHTTPServer(("127.0.0.1", port), handler)
    return srv, controller
