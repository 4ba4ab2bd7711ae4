"""Catalog + table lifecycle: the engine facade (DDL/DML/recovery).

Rebuilds the reference's Database -> Table -> Document hierarchy
(engine/spider.go:22-31, core/database/database.go:21-26,
core/table/table.go:40-60) on TableIO snapshots:

- S5 create/drop database & table   (engine/ddl.go:20-183)
- S6 add/del field schema evolution (table.go:245-368; del is logical)
- S7 load/recovery                  (spider.go:49-103 — here: manifest reads)
- S1 AddDoc (batched)               (table.go:422-519) incl. duplicate-PK
  rejection (table.go:451-454) and auto-PK (table.go:446, helper/uuid.go)
- M1 delete = tombstone             (table.go:523-560)
- M2 update = delete + re-insert with a fresh docId (table.go:568-690);
  update without a user PK is unsupported (table.go:581-583)
- M3 burned docIds: rows that fail field typing still consume a docId and
  are immediately tombstoned, so counters stay aligned
  (design.md:158-165, partition.go:291-300)
- I11 PK <-> docId mapping is the PK column on the base table
- Q11 point lookup, Q12 status counters (table.go:1178-1211)

Field types mirror README.md:66-77: primary / whole / words / number /
time / pure. number and time are forward-only (no postings —
README.md:29); time parses 'yyyy-MM-dd[ HH:mm:ss]' to epoch seconds
(utils/helper/time.go:6-22); unparseable numerics get the MaxInt64
sentinel (forwardindex.go:37,176) and burn the docId.

Postings are rebuilt incrementally: each write appends that batch's
postings; reads merge (operators.postings.merge_postings), compaction
on demand — the flush/merge tiering of table.go:503-516 with Spark doing
the k-way merge in the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_engine_spark.operators.postings import (
    TERM_BUCKETS,
    build_postings,
    merge_postings,
    python_tokens_law,
    term_bucket_expr,
    with_term_bucket,
)
from spider_engine_spark.operators.search import (
    MAX_INT64,
    SearchFilter,
    search as search_op,
)
from spider_engine_spark.pins import pin, scope
from spider_engine_spark.session import local_frame
from spider_engine_spark.sources.tableio import TableIO

FIELD_TYPES = {
    "primary", "whole", "words", "number", "time", "pure",
    # the reference's internal string index types (common.go:15-16):
    "list",  # IDX_TYPE_STR_LIST: split on ';'
    "word",  # IDX_TYPE_STR_WORD: per-rune
}
AUTO_PK = "_auto_pk"  # reference DEFAULT_PRIMARY_FIELD_NAME '#Def%Pri$Key@'
SPLITTER_OF = {"whole": "whole", "words": "words", "list": "semicolon", "word": "rune"}


def _typed_column(ftype: str, c: F.Column) -> F.Column:
    if ftype == "number":
        # JSON ints arrive as doubles and are truncated (forwardindex.go:126-130);
        # unparseable -> MaxInt64 sentinel (forwardindex.go:176); try_cast
        # because ANSI mode would throw on malformed input
        return F.coalesce(
            c.try_cast("double").try_cast("long"), F.lit(MAX_INT64)
        )
    if ftype == "time":
        ts = F.coalesce(
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        )
        return F.coalesce(
            F.unix_timestamp(ts), F.lit(MAX_INT64)
        )  # epoch (helper/time.go:6-22)
    return c.cast("string")


def _check_field_names(names) -> None:
    """Reject a user field named like the engine's internal docId column
    (the reference keeps docIds outside the user schema too,
    design.md:83-87), at create and at ALTER."""
    if "doc_id" in names:
        raise ValueError("'doc_id' is a reserved column name")


class Table:
    def __init__(
        self,
        spark: SparkSession,
        io: TableIO,
        name: str,
        fields: dict[str, str] | None = None,
        term_buckets: int = TERM_BUCKETS,
    ):
        self.spark = spark
        self.io = io
        self.name = name
        if io.exists(f"{name}__meta"):
            meta = io.meta(f"{name}__meta")
            self.fields = meta["fields"]
            self.pk = meta["pk"]
            self.next_doc_id = meta["next_doc_id"]
            self.hidden = set(meta.get("hidden", []))
            self.fills = dict(meta.get("fills", {}))
            self.term_buckets = int(meta.get("term_buckets", TERM_BUCKETS))
        else:
            if fields is None:
                raise FileNotFoundError(f"table {name} does not exist")
            bad = set(fields.values()) - FIELD_TYPES
            if bad:
                raise ValueError(f"unknown field types: {bad}")
            _check_field_names(fields)
            pks = [f for f, t in fields.items() if t == "primary"]
            if len(pks) > 1:
                raise ValueError("at most one primary field")
            # auto-generated hidden PK when absent (table.go:75,150-156)
            self.pk = pks[0] if pks else AUTO_PK
            self.fields = dict(fields)
            if not pks:
                self.fields[AUTO_PK] = "primary"
            self.next_doc_id = 0
            self.hidden: set[str] = set()
            # late-added fields are metadata-only: read-time fill values
            # (the reference's lazy 'fake field', field.go:57-76)
            self.fills: dict[str, object] = {}
            self.term_buckets = term_buckets
            self._store_meta()

    # -- meta (S3) ------------------------------------------------------
    def _store_meta(self) -> None:
        """Commit the table meta. Creation writes the one-row marker the
        __meta table's versions point at; every later change is a
        manifest-only commit on it (no Spark job)."""
        name = f"{self.name}__meta"
        meta = {
            "fields": self.fields,
            "pk": self.pk,
            "next_doc_id": self.next_doc_id,
            "hidden": sorted(self.hidden),
            "fills": self.fills,
            "term_buckets": self.term_buckets,
        }
        if self.io.exists(name):
            self.io.commit_meta(name, meta)
        else:
            marker = local_frame(self.spark, [(self.name,)], "table string")
            self.io.write(name, marker, meta=meta)

    # -- views ------------------------------------------------------------
    @property
    def user_fields(self) -> dict[str, str]:
        return {
            f: t
            for f, t in self.fields.items()
            if f not in self.hidden and f != AUTO_PK
        }

    def _indexed_fields(self) -> dict[str, str]:
        """whole/words get inverted indexes; primary too (exact term),
        matching IDX_MAP (common.go:37-44)."""
        out = {}
        for f, t in self.fields.items():
            if f in self.hidden:
                continue
            if t in SPLITTER_OF:
                out[f] = SPLITTER_OF[t]
            elif t == "primary" and f != AUTO_PK:
                out[f] = "whole"
        return out

    def base(self, include_deleted: bool = False) -> DataFrame:
        df = self.io.read(self.spark, f"{self.name}__base")
        # metadata-only schema evolution (S6): fields added after data was
        # written exist only in `fills` — apply the fill value at read time
        # instead of ever rewriting the base table (field.go:57-76's lazy
        # 'fake field'; at 100 TB an ALTER must not touch data files).
        for f, fill in self.fills.items():
            ftype = "long" if self.fields.get(f) in ("number", "time") else "string"
            if f not in df.columns:
                df = df.withColumn(f, F.lit(fill).cast(ftype))
            else:  # dirs written before the ALTER read back as null
                df = df.withColumn(
                    f, F.coalesce(F.col(f), F.lit(fill).cast(ftype))
                )
        if not include_deleted and self.io.exists(f"{self.name}__deletes"):
            dels = self.io.read(self.spark, f"{self.name}__deletes")
            df = df.join(F.broadcast(dels), "doc_id", "left_anti")
        keep = ["doc_id"] + [f for f in self.fields if f not in self.hidden]
        return df.select(*[c for c in keep if c in df.columns])

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        """The merged postings; with `terms`, only the term_bucket dirs
        that can hold them are read (none for an empty list)."""
        name = f"{self.name}__postings"
        if terms is None:
            return merge_postings(self.io.read(self.spark, name))
        return merge_postings(
            self.io.read(
                self.spark, name, partition_values=self._buckets_of(terms)
            )
        )

    def _buckets_of(self, terms: list[str]) -> set[int]:
        """The term_buckets of `terms`, from the one term_bucket_expr
        over an inline VALUES relation: the driver folds it and collects
        with no Spark job."""
        if not terms:
            return set()
        values = ", ".join(f"(:t{i})" for i in range(len(terms)))
        probe = self.spark.sql(
            f"SELECT * FROM VALUES {values} AS v(term)",
            args={f"t{i}": t for i, t in enumerate(terms)},
        ).select(term_bucket_expr("term", self.term_buckets))
        return {r[0] for r in probe.collect()}

    # -- S1 add docs ------------------------------------------------------
    def add_docs(self, rows: list[dict]) -> tuple[int, int]:
        """Batch insert of driver-side rows (the REST AddDoc analogue)."""
        raw = local_frame(
            self.spark,
            [
                tuple(None if r.get(f) is None else str(r[f]) for f in self.fields)
                for r in rows
            ],
            ", ".join(f"`{f}` string" for f in self.fields),
        )
        return self.add_docs_df(raw)

    @scope()
    def add_docs_df(self, raw: DataFrame) -> tuple[int, int]:
        """Distributed batch insert: one atomic commit per batch (the
        reference's serialized per-doc AddDoc + flush, C1/S1, as a
        DataFrame pipeline). Returns (accepted, burned).

        - missing columns are treated as missing values;
        - duplicate PKs (within batch or vs table) are rejected;
        - rows with untypeable number/time values still consume a docId
          and are tombstoned (M3 burned-docId consistency).

        INVARIANT (multi-term OR search depends on it): every doc_id
        referenced by a postings row exists in the base table, and any
        path that removes/hides base rows goes through the __deletes
        table. Both tables commit from the same accepted-rows DataFrame
        in this method, deletes only ever append tombstones, and
        compaction re-groups without dropping docs. multi_term_or scores
        each term with df = its posting-list length, so a write path
        that pruned base rows or dropped postings WITHOUT touching
        __deletes would silently skew those scores.

        One driver action reads the batch facts off the pinned `ranged`
        rows: per partition, the row count (the docId offsets), the
        burned count, and whether python_tokens_law holds for any row.
        The postings build plans the Python tokenizer fallback only when
        it does. `ranged` holds every row that reaches the postings
        build (the live rows are `ranged` minus the burned ones), so the
        flag can over-include — a burned CJK row still plans the
        fallback — but never misses a row that needs it.

        The two localCheckpoints below live in this call's own
        pins.scope(), released once the three writes are done.
        """
        for f in self.fields:
            if f not in raw.columns and f != AUTO_PK:
                raw = raw.withColumn(f, F.lit(None).cast("string"))
            elif f in raw.columns:
                raw = raw.withColumn(f, F.col(f).cast("string"))
        if self.pk == AUTO_PK:
            # generate only where the caller did not supply one (the
            # REST facade pre-generates so it can return the key,
            # matching the reference's AddDoc contract)
            if AUTO_PK in raw.columns:
                raw = raw.withColumn(
                    AUTO_PK, F.coalesce(F.col(AUTO_PK), F.expr("uuid()"))
                )
            else:
                raw = raw.withColumn(AUTO_PK, F.expr("uuid()"))
        # duplicate check vs the table is vs LIVE rows: a tombstoned PK
        # may be re-inserted — that IS the update path (table.go:636-654).
        # The anti-join runs BEFORE the in-batch dedup (they commute: a
        # PK group is dropped or kept wholesale by the anti-join) so the
        # in-batch dedup can share the docId assignment's range exchange
        # below instead of paying its own full-row shuffle.
        if self.io.exists(f"{self.name}__base"):
            existing = self.base(include_deleted=False).select(
                F.col(self.pk).alias("_epk")
            )
            raw = raw.join(
                existing, raw[self.pk] == existing["_epk"], "left_anti"
            )
        # dense docId assignment in PK order (the single-writer arrival
        # order of C1 is not reproducible distributively; PK order is the
        # documented deterministic substitute). Fully parallel: range-
        # partition on the PK, then id = partition offset + local rank —
        # a global Window.orderBy(pk) would funnel the whole batch through
        # ONE task, the ingest path's scale-killer at 100 TB. The global
        # id equals the PK's global rank regardless of where the range
        # boundaries fall, so determinism is preserved.
        #
        # In-batch duplicate-PK rejection (table.go:451-454) rides the
        # SAME exchange: RangePartitioning(pk) clusters equal PKs into
        # one partition, so the dedup window below needs no shuffle of
        # its own (Catalyst recognizes the clustering; the window's sort
        # by (pk, json) also covers the assignment window's pk order).
        # Resolution is DETERMINISTIC: the reference's serialized writer
        # keeps the first-arrived row, but "first" is undefined
        # distributively (dropDuplicates keeps an arbitrary row) — keep
        # the row with the smallest JSON encoding instead (a total order
        # over full row content; identical encodings imply identical
        # rows), so re-running the same batch always survives the same
        # row.
        from pyspark.sql.window import Window

        _cols = raw.columns
        n_parts = max(self.spark.sparkContext.defaultParallelism, 1)
        w_dedup = Window.partitionBy(self.pk).orderBy(
            F.to_json(F.struct(*_cols))
        )
        deduped = (
            raw.repartitionByRange(n_parts, F.col(self.pk))
            .withColumn("_rn", F.row_number().over(w_dedup))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        typed = deduped.select(
            *[
                _typed_column(t, F.col(f)).alias(f)
                for f, t in self.fields.items()
            ]
        )
        # pin partition assignment across passes
        ranged = pin(
            typed.withColumn("_pid", F.spark_partition_id()), snapshot=True
        )
        # burned rows: numeric/time sentinel from an unparseable input
        burn_cond = F.lit(False)
        for f, t in self.fields.items():
            if t in ("number", "time"):
                burn_cond = burn_cond | (
                    F.col(f).bitwiseAND(F.lit(MAX_INT64)) == F.lit(MAX_INT64)
                )
        indexed = self._indexed_fields()
        # the batch facts, in one driver action: rows and burned rows
        # per partition, and whether any row needs the Python tokenizer
        facts = (
            ranged.groupBy("_pid")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.count_if(burn_cond).alias("burned"),
                F.bool_or(python_tokens_law(indexed)).alias("python"),
            )
            .collect()
        )
        counts = {r["_pid"]: r["cnt"] for r in facts}
        n = sum(counts.values())
        if n == 0:  # fully-rejected batch: nothing to commit (a 0-row
            return 0, 0  # partitioned write would leave a schema-less dir)
        n_burned = sum(r["burned"] for r in facts)
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_map = F.create_map(
            *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
        )
        w = Window.partitionBy("_pid").orderBy(self.pk)
        batch = pin(  # reused 4x below
            ranged.withColumn(
                "doc_id",
                (
                    F.row_number().over(w).cast("long")
                    - 1
                    + off_map[F.col("_pid")]
                    + F.lit(self.next_doc_id)
                ),
            ).drop("_pid"),
            snapshot=True,
            eager=False,
        )

        burned = batch.filter(burn_cond).select("doc_id")

        self.io.write(f"{self.name}__base", batch, mode="append")
        if n_burned:
            self.io.write(f"{self.name}__deletes", burned, mode="append")
        live = batch.join(burned, "doc_id", "left_anti")
        postings = with_term_bucket(
            build_postings(
                live, "doc_id", indexed,
                python=any(r["python"] for r in facts),
            ),
            n=self.term_buckets,
        )
        # co-locate each term_bucket before the hive-partitioned write:
        # without it every write task emits one file per bucket it holds
        # (tasks × buckets files — measured 2050 files and a 3.4× slower
        # write on the 89k-doc bench batch); the shuffle moves only the
        # already-aggregated postings rows
        self.io.write(
            f"{self.name}__postings",
            postings.repartition("term_bucket"),
            mode="append",
            partition_by=["term_bucket"],
        )
        self.next_doc_id += n
        self._store_meta()
        return n - n_burned, n_burned

    # -- M1 / M2 ----------------------------------------------------------
    def delete_doc(self, pk_value: str) -> bool:
        """Tombstone the live row holding pk_value; False if there is
        none. One scan of base: a live PK matches at most one row, so
        its doc_id is collected and appended from a local frame."""
        ids = [
            r["doc_id"]
            for r in self.base()
            .filter(F.col(self.pk) == pk_value)
            .select("doc_id")
            .collect()
        ]
        if not ids:
            return False
        self.io.write(
            f"{self.name}__deletes",
            local_frame(self.spark, [(i,) for i in ids], "doc_id long"),
            mode="append",
        )
        return True

    def update_doc(self, pk_value: str, content: dict) -> bool:
        """delete + re-insert with a fresh docId (table.go:568-690)."""
        if self.pk == AUTO_PK:
            # update unsupported without a user PK (table.go:581-583)
            raise ValueError("update requires a user-provided primary key")
        if not self.delete_doc(pk_value):
            return False
        row = dict(content)
        row[self.pk] = pk_value
        self.add_docs([row])
        return True

    # -- Q11 / search -------------------------------------------------------
    def get_doc(self, pk_value: str) -> dict | None:
        rows = self.base().filter(F.col(self.pk) == pk_value).collect()
        if not rows:
            return None
        d = rows[0].asDict()
        if self.pk == AUTO_PK:
            d.pop(AUTO_PK, None)  # hidden auto PK (table.go:1058-1062)
        return d

    def check_filters(self, filters: list[SearchFilter]) -> None:
        """Validate filters vs field types (table.go:1075-1114)."""
        numeric = {
            f for f, t in self.fields.items() if t in ("number", "time")
        }
        for f in filters:
            if f.field not in self.fields or f.field in self.hidden:
                raise ValueError(f"field {f.field!r} not exist")
            if f.op in (">", "<", "between") and f.field not in numeric:
                raise ValueError(f"{f.field} should be number or time")
            if f.op in ("prefix", "suffix", "contain") and f.field in numeric:
                raise ValueError(f"{f.field} should be string")
            if f.op in ("in", "not in") and not f.values:
                raise ValueError(f"{f.field} needs a non-empty value list")

    def search(
        self,
        keyword: str | list[str],
        field: str = "",
        filters: list[SearchFilter] | None = None,
        offset: int = 0,
        size: int = 0,
        keep_total: bool = False,
        mode: str = "or",
        rank_col: str = "score",
    ) -> DataFrame:
        """Single-term search (keyword: str, reference-exact), or
        multi-term (keyword: list[str]) through the same operator with
        the same filters + pagination — the query-LIST surface the
        reference's request model declared but never shipped
        (search/search.go:263-320). mode applies to the list form only:
        'or' (scored union) or 'and' (intersection). rank_col names the
        rank-score column (search_op)."""
        self.check_filters(list(filters or []))
        numeric = {
            f for f, t in self.fields.items() if t in ("number", "time")
        }
        deleted = (
            self.io.read(self.spark, f"{self.name}__deletes")
            if self.io.exists(f"{self.name}__deletes")
            else None
        )
        if isinstance(keyword, str):
            # keyword '' is a range scan over base: it reads no postings
            terms = [keyword] if keyword else []
        else:
            terms = list(keyword)
        return search_op(
            self.base(include_deleted=True),
            self.postings(terms),
            keyword,
            mode=mode,
            search_field=field,
            filters=filters or [],
            offset=offset,
            size=size,
            max_doc=self.next_doc_id,
            deleted=deleted,
            numeric_fields=numeric,
            term_buckets=self.term_buckets,
            keep_total=keep_total,
            rank_col=rank_col,
        )

    # -- S6 schema evolution ------------------------------------------------
    def add_field(self, name: str, ftype: str) -> None:
        if ftype not in FIELD_TYPES or ftype == "primary":
            raise ValueError(f"cannot add field of type {ftype!r}")
        _check_field_names([name])
        if name in self.fields:
            raise ValueError(f"field {name} exists")
        self.fields[name] = ftype
        self.hidden.discard(name)
        # METADATA-ONLY: existing rows get the missing-value sentinel
        # ('' / MaxInt64) applied at read time in base() — the lazy 'fake
        # field' of field.go:57-76. No base-table rewrite: at 100 TB an
        # ALTER that rewrote every row would be a multi-hour job for a
        # metadata change.
        self.fills[name] = (
            MAX_INT64 if ftype in ("number", "time") else ""
        )
        self._store_meta()

    def delete_field(self, name: str) -> None:
        """Logical delete: hidden from reads, data retained
        (table.go:319-368)."""
        if name not in self.fields or self.fields[name] == "primary":
            raise ValueError(f"cannot delete field {name!r}")
        self.hidden.add(name)
        self._store_meta()

    # -- Q12 status -----------------------------------------------------
    def status(self) -> dict:
        n_live = self.base().count()
        n_deleted = (
            self.io.read(self.spark, f"{self.name}__deletes")
            .select("doc_id").distinct().count()
            if self.io.exists(f"{self.name}__deletes")
            else 0
        )
        return {
            "table": self.name,
            "fields": self.user_fields,
            "primary_key": None if self.pk == AUTO_PK else self.pk,
            "next_doc_id": self.next_doc_id,
            "real_doc_num": n_live,
            "deleted": n_deleted,
            "postings_versions": len(
                self.io.versions(f"{self.name}__postings")
            )
            if self.io.exists(f"{self.name}__postings")
            else 0,
        }

    def compact(self, max_bytes: int | None = None) -> None:
        """I10: merge the postings/base append chains.

        max_bytes=None folds each chain's data dirs into one. With
        max_bytes set, the merge planner is incremental like the
        reference's (table.go:874-971 picks only undersized partition
        groups): data dirs >= max_bytes are carried over untouched and
        only the undersized tail is merged — at 100 TB you never rewrite
        the large, already-compacted snapshots.
        """
        for suffix in ("__base", "__postings", "__deletes"):
            name = self.name + suffix
            if not self.io.exists(name):
                continue
            self.io.compact_small(
                self.spark, name, max_bytes=max_bytes,
                transform=merge_postings if suffix == "__postings" else None,
            )


class Catalog:
    """S5/S7: databases are TableIO roots under a base dir."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._dbs: dict[str, TableIO] = {}

    def create_database(self, db: str) -> None:
        import os

        if os.path.isdir(f"{self.root}/{db}"):
            # the reference errors on duplicate creation (ddl.go:28-31)
            raise ValueError(f"database {db} already exists")
        os.makedirs(f"{self.root}/{db}")
        self._dbs[db] = TableIO(f"{self.root}/{db}")

    def drop_database(self, db: str) -> None:
        import shutil

        shutil.rmtree(f"{self.root}/{db}", ignore_errors=True)
        self._dbs.pop(db, None)

    def _io(self, db: str) -> TableIO:
        if db not in self._dbs:
            import os

            if not os.path.isdir(f"{self.root}/{db}"):
                raise FileNotFoundError(f"database {db} does not exist")
            self._dbs[db] = TableIO(f"{self.root}/{db}")
        return self._dbs[db]

    def create_table(
        self,
        db: str,
        name: str,
        fields: dict[str, str],
        term_buckets: int = TERM_BUCKETS,
    ) -> Table:
        if self._io(db).exists(f"{name}__meta"):
            # the reference errors on duplicate creation (ddl.go:115-118)
            raise ValueError(f"table {name} already exists")
        return Table(
            self.spark, self._io(db), name, fields, term_buckets=term_buckets
        )

    def table(self, db: str, name: str) -> Table:
        """S7 recovery: reload from the persisted manifests."""
        return Table(self.spark, self._io(db), name)

    def drop_table(self, db: str, name: str) -> None:
        io = self._io(db)
        for suffix in ("__meta", "__base", "__postings", "__deletes"):
            io.drop(name + suffix)

    # -- Q12 engine-wide status walk (spider.go:171-186) -----------------
    def databases(self) -> list[str]:
        import os

        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def tables(self, db: str) -> list[str]:
        io = self._io(db)
        return sorted(
            n[: -len("__meta")]
            for n in io.table_names()
            if n.endswith("__meta")
        )

    def status(self) -> dict:
        """Engine-wide introspection: walk engine -> databases -> tables,
        mirroring Spider.GetStatus (engine/spider.go:171-186) which nests
        each database's DoGetStatus of each table."""
        dbs = {}
        n_tables = 0
        for db in self.databases():
            tbls = {
                t: self.table(db, t).status() for t in self.tables(db)
            }
            n_tables += len(tbls)
            dbs[db] = {"tables": tbls, "n_tables": len(tbls)}
        return {"n_databases": len(dbs), "n_tables": n_tables, "databases": dbs}
