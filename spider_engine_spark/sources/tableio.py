"""Snapshot-commit table IO — an Iceberg-shaped abstraction over parquet.

No Iceberg runtime jar is available offline (SURVEY.md §7.0), so state
tables (frontier, seen-set, cuckoo filters, postings, checkpoints) go
through this thin layer with Iceberg-like semantics:

- every write is a new immutable snapshot version (parquet dir),
- commits are atomic (write to a temp dir, rename, then atomically swap
  a JSON manifest) — readers only ever see fully-committed versions,
- `append` mode commits a version whose manifest references the parent's
  data dirs plus the new one (no rewrite of existing files),
- each manifest entry carries caller metadata (per-partition lineage,
  step counters — the north_rule's checkpoint+metrics requirement),
- time travel: `read(..., version=n)`,
- reads are planned from the manifest alone: each version records its
  schema, hive layout and parquet-less dirs at commit time, so building
  a read runs no schema-inference job and walks no dir. A
  partition-value read opens only the subdirs it names; a full read of
  a dir with more leaf dirs than Spark's parallel-listing threshold
  (32) still lists them with a job.

The reference's analogue is its meta persistence + mem-partition flush
(engine/spider.go:109-120, core/partition/partition.go:488-555); the
snapshot commit replaces its hierarchical-counter crash-consistency
protocol (design.md:158-165) with all-or-nothing visibility.

On a real cluster this class is swapped for Iceberg SQL (CREATE/MERGE/
snapshot reads) — the call sites only use read/write/append/meta.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from spider_engine_spark.session import local_frame


class TableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_manifest.json")

    def _load_manifest(self, name: str) -> dict:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return {"versions": []}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, name: str, manifest: dict) -> None:
        p = self._manifest_path(name)
        tmp = p + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)  # atomic on POSIX

    def exists(self, name: str) -> bool:
        return bool(self._load_manifest(name)["versions"])

    def versions(self, name: str) -> list[int]:
        return [v["version"] for v in self._load_manifest(name)["versions"]]

    def meta(self, name: str, version: int | None = None) -> dict:
        entry = self._entry(name, version)
        return entry.get("meta", {})

    def _entry(self, name: str, version: int | None = None) -> dict:
        vs = self._load_manifest(name)["versions"]
        if not vs:
            raise FileNotFoundError(f"table {name} has no versions")
        if version is None:
            return vs[-1]
        for v in vs:
            if v["version"] == version:
                return v
        raise FileNotFoundError(f"table {name} has no version {version}")

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Commit df as a new snapshot; returns the new version number.

        partition_by writes hive-style partition dirs (read() can prune
        them by value before listing).

        INVARIANT (read() depends on it): an append writes a superset of
        the columns of the dirs it appends to, with the same types. The
        version's schema is df's, and read() reads every dir of the
        version with it: an older dir missing a later-added column reads
        it as null, but a column the newest write dropped would vanish
        from the older dirs too. Every append writer keeps this (the
        catalog base after a metadata-only ALTER, the crawl filter's
        `step` column)."""
        manifest = self._load_manifest(name)
        vs = manifest["versions"]
        new_version = (vs[-1]["version"] + 1) if vs else 1
        final = self._new_data_dir(name, df, new_version, partition_by)
        if mode == "append" and vs:
            dirs = list(vs[-1]["dirs"]) + [final]
            empty = self._known_empty(vs[-1])
        else:
            dirs, empty = [final], set()
        if not self._has_data_files(final):
            empty.add(final)
        vs.append(
            {
                "version": new_version,
                "dirs": dirs,
                # parquet-less dirs (zero-row dynamic-partition writes)
                # recorded at COMMIT time so read() never has to walk
                # the data dirs to rediscover them
                "empty_dirs": sorted(empty & set(dirs)),
                "schema": df.schema.json(),
                "meta": meta or {},
                # recorded so compaction can rewrite WITH the table's
                # hive layout — dropping it would silently trade the
                # partition pruning the layout exists for
                "partition_by": partition_by,
            }
        )
        self._commit_manifest(name, manifest)
        return new_version

    def _known_empty(self, entry: dict) -> set[str]:
        """Parquet-less dirs of a version entry, as recorded at commit
        time, so reads stay listing-free."""
        return set(entry["empty_dirs"])

    def _new_data_dir(
        self,
        name: str,
        df: DataFrame,
        version: int,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write df into a fresh uniquely-named data dir and return its
        path. The dir name carries a uuid so a crash between the rename
        and the manifest commit can never wedge a retry: the manifest is
        the sole version authority and an orphaned dir is just unreferenced
        garbage (Iceberg's orphan-file model)."""
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        final = os.path.join(tdir, f"v{version:06d}-{uuid.uuid4().hex[:12]}")
        tmp = os.path.join(tdir, f"_tmp.{uuid.uuid4().hex}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        os.rename(tmp, final)  # atomic publish of the data dir
        return final

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        partition_values: set | None = None,
    ) -> DataFrame:
        """The snapshot's rows, planned from its manifest entry alone.

        Every data dir is read with the committed schema, so no
        schema-inference job runs (see write() for the invariant that
        makes the newest schema cover every dir). Parquet-less dirs (a
        zero-row dynamic-partition write leaves no file) are skipped via
        the entry's commit-time record, not a walk; an all-empty version
        is an empty LocalRelation of the committed schema, in the order a
        parquet read yields (partition columns last), so its scans run
        no job for the files and no Python process.

        partition_values prunes a hive-partitioned table BEFORE any
        listing: only the `<dir>/<col>=<v>` subdirs of the table's first
        partition column that exist are opened (one stat each, values
        formatted with str()), so no partition-discovery job runs. An
        empty set reads nothing. Every dir of the version must carry the
        entry's hive layout, as every append writer here keeps it."""
        entry = self._entry(name, version)
        empty = self._known_empty(entry)
        dirs = [d for d in entry["dirs"] if d not in empty]
        return self._read_dirs(spark, entry, dirs, partition_values)

    @staticmethod
    def _read_schema(entry: dict) -> StructType:
        """The committed schema in the column order a parquet read
        yields: data columns, then the hive partition columns."""
        schema = StructType.fromJson(json.loads(entry["schema"]))
        part = entry.get("partition_by") or []
        return StructType(
            [f for f in schema.fields if f.name not in part]
            + [f for f in schema.fields if f.name in part]
        )

    def _read_dirs(
        self,
        spark: SparkSession,
        entry: dict,
        dirs: list[str],
        partition_values: set | None = None,
    ) -> DataFrame:
        """Union of per-dir reads with the entry's committed schema.
        Hive-partitioned snapshot dirs cannot be listed together in one
        read (conflicting partition roots), hence one read per dir. A
        dir written before a metadata-only ALTER lacks the late-added
        column: it reads back as null and the table layer applies the
        fill value (catalog.Table.base)."""
        schema = self._read_schema(entry)
        part = entry.get("partition_by")
        if partition_values is not None and not part:
            raise ValueError("partition_values needs a partitioned table")
        reads = []
        for d in dirs:
            if partition_values is None:
                reads.append(spark.read.schema(schema).parquet(d))
                continue
            paths = [
                p
                for v in sorted(partition_values)
                if os.path.isdir(p := os.path.join(d, f"{part[0]}={v}"))
            ]
            if paths:
                reads.append(
                    spark.read.schema(schema)
                    .option("basePath", d)
                    .parquet(*paths)
                )
        if not reads:
            return local_frame(spark, [], schema)
        out = reads[0]
        for r in reads[1:]:
            out = out.unionByName(r, allowMissingColumns=True)
        return out

    def read_added(self, spark: SparkSession, name: str) -> DataFrame:
        """The rows the latest commit added: its newest data dir alone (an
        append's new snapshot; all of an overwrite), planned like read()."""
        entry = self._entry(name)
        d = entry["dirs"][-1]
        dirs = [] if d in self._known_empty(entry) else [d]
        return self._read_dirs(spark, entry, dirs)

    @staticmethod
    def _has_data_files(d: str) -> bool:
        for _base, _dirs, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)

    def table_names(self) -> list[str]:
        """All table names under this root (dirs with a manifest)."""
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.exists(self._manifest_path(d))
        )

    def _dir_bytes(self, d: str) -> int:
        total = 0
        for base, _dirs, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(base, f))
                except OSError:
                    pass
        return total

    def compact_small(
        self,
        spark: SparkSession,
        name: str,
        max_bytes: int | None = 64 << 20,
        meta: dict | None = None,
        transform=None,
    ) -> int | None:
        """Incremental merge planner: fold only data dirs < max_bytes into
        one new dir; dirs >= max_bytes are referenced untouched by the new
        snapshot (the reference's pick-undersized-groups behavior,
        table.go:874-971, and Iceberg's rewrite_data_files). max_bytes=None
        folds every non-empty dir. Returns the new version, or None if
        fewer than two dirs qualify (nothing to merge).

        transform: optional DataFrame->DataFrame applied to the merged
        small-dir union (e.g. postings re-grouping). The merged dir
        keeps the table's recorded hive layout, so compaction never
        flattens a partitioned table."""
        entry = self._entry(name)
        partition_by = entry.get("partition_by")
        # parquet-less dirs (empty dynamic-partition snapshots, see
        # read()) hold nothing to merge and cannot be scanned — drop
        # them from the fold AND from the new snapshot's dir list
        empty = self._known_empty(entry)
        dirs = [d for d in entry["dirs"] if d not in empty]
        small = [
            d
            for d in dirs
            if max_bytes is None or self._dir_bytes(d) < max_bytes
        ]
        big = [d for d in dirs if d not in small]
        if len(small) <= 1:
            return None
        df = self._read_dirs(spark, entry, small)
        if transform is not None:
            df = transform(df)
        manifest = self._load_manifest(name)
        vs = manifest["versions"]
        new_version = vs[-1]["version"] + 1
        merged = self._new_data_dir(name, df, new_version, partition_by)
        vs.append(
            {
                "version": new_version,
                "dirs": big + [merged],
                "empty_dirs": (
                    [] if self._has_data_files(merged) else [merged]
                ),
                "schema": entry["schema"],
                "meta": meta if meta is not None else dict(entry.get("meta", {})),
                "partition_by": partition_by,
            }
        )
        self._commit_manifest(name, manifest)
        return new_version

    def compact_if_due(
        self,
        spark: SparkSession,
        name: str,
        batch_id: int,
        every: int,
        max_bytes: int = 64 << 20,
        transform=None,
    ) -> int | None:
        """Streaming compaction-boundary guard — THE shared law for
        foreachBatch handlers (streaming/ingest.py, streaming/neardup.py):
        every `every` batches, fold undersized dirs via compact_small.

        Replay-safe in both directions: a never-written table is a
        no-op (an empty availableNow stream must not fail), an
        already-compacted boundary is a no-op, and a STALE replayed
        batch id can never regress the table meta — the committed meta
        carries max(batch_id, current meta batch_id), because the
        per-table append guards compare against that meta and a
        regression would re-open them to duplicate re-appends of every
        later batch."""
        if (batch_id + 1) % every != 0 or not self.exists(name):
            return None
        m = self.meta(name)
        cur = int(m.get("batch_id", -1))
        if cur > batch_id:
            # stale replayed boundary: a later batch already committed,
            # and the live stream will compact at its own next boundary
            # — rewriting dirs here would be wasted replay I/O
            return None
        if bool(m.get("compacted")) and cur >= batch_id:
            return None
        # merge, don't replace: handlers may carry extra meta keys
        # (compact_small itself preserves meta when meta=None)
        return self.compact_small(
            spark,
            name,
            max_bytes=max_bytes,
            meta={**m, "batch_id": max(batch_id, cur), "compacted": True},
            transform=transform,
        )

    def _append_version_of(self, name: str, entry: dict, meta: dict) -> int:
        """Commit a new version referencing an existing entry's data dirs
        (no data rewrite); shared by revert() and commit_meta()."""
        manifest = self._load_manifest(name)
        vs = manifest["versions"]
        if not vs:
            raise FileNotFoundError(f"table {name} has no versions")
        new_version = vs[-1]["version"] + 1
        vs.append(
            {
                "version": new_version,
                "dirs": list(entry["dirs"]),
                "empty_dirs": sorted(self._known_empty(entry)),
                "schema": entry["schema"],
                "meta": meta,
                "partition_by": entry.get("partition_by"),
            }
        )
        self._commit_manifest(name, manifest)
        return new_version

    def commit_meta(self, name: str, meta: dict) -> int:
        """Metadata-only commit: a new version referencing the latest
        version's data dirs unchanged, with new meta (Iceberg's
        set-table-properties commit). Used as a cheap commit point when
        the data is already durable — e.g. the frontier commit of a
        re-shard migration, where rewriting the (at design scale, huge)
        frontier table just to advance its meta would be pure write
        amplification."""
        return self._append_version_of(name, self._entry(name), meta)

    def revert(self, name: str, version: int) -> int:
        """Snapshot rollback: commit a NEW version pointing at an old
        version's data dirs (no data rewrite — Iceberg-style rollback).
        Used by crash recovery to drop orphan appends from a superstep
        that never reached its commit point."""
        old = self._entry(name, version)
        return self._append_version_of(name, old, dict(old.get("meta", {})))

    def expire_versions(self, name: str, keep_last: int = 8) -> int:
        """Snapshot-history expiry (Iceberg's expire_snapshots): drop
        manifest entries older than the last `keep_last` versions and
        delete data dirs referenced ONLY by the expired entries.
        Returns the number of dirs deleted.

        Without this, a long-running overwrite-per-batch stream (the
        sketch tables) accumulates one snapshot dir and one manifest
        entry per micro-batch forever — O(n_batches) garbage and an
        O(n) manifest rewritten per commit.  The latest `keep_last`
        versions stay fully revertable; revert()/time-travel beyond
        them is deliberately given up by the caller.

        Crash-ordering: the truncated manifest commits BEFORE any dir
        is deleted — a crash in between leaves unreferenced dirs (the
        documented harmless-orphan model); the reverse order could
        leave live manifest entries pointing at deleted data."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        manifest = self._load_manifest(name)
        vs = manifest["versions"]
        if len(vs) <= keep_last:
            return 0
        kept, expired = vs[-keep_last:], vs[:-keep_last]
        live = {d for e in kept for d in e["dirs"]}
        dead = {d for e in expired for d in e["dirs"]} - live
        manifest["versions"] = kept
        self._commit_manifest(name, manifest)
        for d in dead:
            shutil.rmtree(d, ignore_errors=True)
        return len(dead)

    def latest_version_at_step(
        self, name: str, max_step: int, max_epoch: int | None = None
    ) -> int | None:
        """Newest version whose meta step <= max_step (missing step = 0).

        max_epoch additionally bounds the meta's layout_epoch (missing =
        0) — used by crash recovery to skip versions written by a
        re-shard migration that never reached its frontier commit point."""
        for v in reversed(self._load_manifest(name)["versions"]):
            m = v.get("meta", {})
            if int(m.get("step", 0)) > max_step:
                continue
            if max_epoch is not None and int(m.get("layout_epoch", 0)) > max_epoch:
                continue
            return v["version"]
        return None
