"""TableIO snapshot-commit semantics (S3/S4/S7 analogues)."""

from __future__ import annotations

import pytest

from spider_engine_spark.sources.tableio import TableIO

from conftest import in_job_group


def test_overwrite_versions_and_time_travel(spark, tmp_path):
    io = TableIO(str(tmp_path))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(10).withColumnRenamed("id", "x")
    v1 = io.write("t", df1, meta={"step": 1})
    v2 = io.write("t", df2, meta={"step": 2})
    assert (v1, v2) == (1, 2)
    assert io.read(spark, "t").count() == 10
    assert io.read(spark, "t", version=1).count() == 5
    assert io.meta("t") == {"step": 2}
    assert io.meta("t", version=1) == {"step": 1}


def test_append_chain_and_compact(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.write("t", spark.range(3))
    io.write("t", spark.range(3, 6), mode="append")
    io.write("t", spark.range(6, 10), mode="append")
    df = io.read(spark, "t")
    assert sorted(r.id for r in df.collect()) == list(range(10))
    io.compact_small(spark, "t", max_bytes=None)
    df2 = io.read(spark, "t")
    assert sorted(r.id for r in df2.collect()) == list(range(10))
    # compacted snapshot reads from a single dir
    assert len(io._entry("t")["dirs"]) == 1


def test_missing_table_raises(spark, tmp_path):
    io = TableIO(str(tmp_path))
    assert not io.exists("nope")
    with pytest.raises(FileNotFoundError):
        io.read(spark, "nope")


def test_empty_partitioned_write_is_readable(spark, tmp_path):
    """A zero-row dynamic-partition write commits a dir with NO parquet
    files (unlike unpartitioned empty writes, which leave a schema-only
    file). Such snapshots are legitimate — e.g. an all-duplicates crawl
    superstep admits nothing — and must not brick every later read."""
    from pyspark.sql import functions as F

    io = TableIO(str(tmp_path))
    full = spark.range(6).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("shard")
    )
    empty = full.filter(F.lit(False))
    # empty OVERWRITE: table reads back as a true empty frame w/ schema
    io.write("t", empty, partition_by=["shard"])
    got = io.read(spark, "t")
    assert got.count() == 0
    assert set(got.columns) == {"id", "shard"}
    # empty APPEND onto real data: prior rows survive, no throw
    io.write("t", full, mode="overwrite", partition_by=["shard"])
    io.write("t", empty, mode="append", partition_by=["shard"])
    assert io.read(spark, "t").count() == 6
    # compaction skips (and drops) the parquet-less dir
    io.write("t", full, mode="append", partition_by=["shard"])
    v = io.compact_small(spark, "t", max_bytes=1 << 60)
    assert v is not None
    assert io.read(spark, "t").count() == 12
    for d in io._entry("t")["dirs"]:
        assert TableIO._has_data_files(d)


def test_empty_dirs_recorded_in_manifest_not_rewalked(spark, tmp_path, monkeypatch):
    """Parquet-less dirs are recorded at COMMIT time (empty_dirs);
    read() must not walk data dirs when the manifest carries the record
    (the crawl reads frontier/seen/filter every superstep)."""
    from pyspark.sql import functions as F

    io = TableIO(str(tmp_path))
    full = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("shard")
    )
    empty = full.filter(F.lit(False))
    io.write("t", full, partition_by=["shard"])
    io.write("t", empty, mode="append", partition_by=["shard"])
    entry = io._entry("t")
    assert len(entry["empty_dirs"]) == 1
    assert entry["empty_dirs"][0] == entry["dirs"][-1]
    # read() needs no filesystem walk at all
    monkeypatch.setattr(
        TableIO, "_has_data_files",
        staticmethod(lambda d: (_ for _ in ()).throw(AssertionError("walked"))),
    )
    assert io.read(spark, "t").count() == 4


def test_expire_versions_truncates_history_and_deletes_dirs(spark, tmp_path):
    import os

    from spider_engine_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path / "exp"))
    for i in range(6):
        io.write("t", spark.range(i, i + 3).selectExpr("id AS v"))
    assert len(io.versions("t")) == 6
    deleted = io.expire_versions("t", keep_last=2)
    assert deleted == 4
    assert io.versions("t") == [5, 6]
    # latest data intact; kept versions still readable/revertable
    assert sorted(r["v"] for r in io.read(spark, "t").collect()) == [5, 6, 7]
    io.revert("t", 5)
    assert sorted(r["v"] for r in io.read(spark, "t").collect()) == [4, 5, 6]
    tdir = os.path.join(io.root, "t")
    assert len([d for d in os.listdir(tdir) if d.startswith("v")]) == 2
    # no-op below threshold; validation
    assert io.expire_versions("t", keep_last=10) == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="keep_last"):
        io.expire_versions("t", keep_last=0)


def test_expire_versions_keeps_dirs_shared_with_live_versions(spark, tmp_path):
    """Append-mode versions REUSE earlier dirs: a dir referenced by any
    kept version must survive expiry of the old version that created
    it."""
    from spider_engine_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path / "shared"))
    io.write("t", spark.range(3).selectExpr("id AS v"))
    io.write("t", spark.range(3, 5).selectExpr("id AS v"), mode="append")
    io.write("t", spark.range(5, 6).selectExpr("id AS v"), mode="append")
    io.expire_versions("t", keep_last=1)
    # the latest version references ALL THREE dirs — nothing may die
    assert sorted(r["v"] for r in io.read(spark, "t").collect()) == list(range(6))


def _inferred_read(spark, io, name):
    """The read that read() replaced: one schema-inferring parquet read
    per non-empty data dir, unioned by name. The reference the
    manifest-planned read must reproduce."""
    entry = io._entry(name)
    dirs = [d for d in entry["dirs"] if d not in set(entry["empty_dirs"])]
    out = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.parquet(d), allowMissingColumns=True)
    return out


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr
    )


def test_manifest_read_matches_inferred_read(spark, tmp_path):
    """read() plans every dir from the manifest (committed schema, no
    inference) and returns what the inferred per-dir reads returned:
    over a partitioned append chain with an empty dir, and over chains
    whose older dirs lack a later-added column."""
    from pyspark.sql import functions as F

    io = TableIO(str(tmp_path))
    full = spark.range(12).select(
        F.col("id"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        (F.col("id") % 3).cast("int").alias("b"),
    )
    io.write("t", full, partition_by=["b"])
    io.write("t", full.filter(F.lit(False)), mode="append", partition_by=["b"])
    io.write(
        "t", full.withColumn("id", F.col("id") + 100), mode="append",
        partition_by=["b"],
    )
    got, jobs, _ = in_job_group(spark, lambda: io.read(spark, "t"))
    assert jobs == []
    ref = _inferred_read(spark, io, "t")
    assert got.schema == ref.schema  # names, order, types, nullability
    assert _rows(got) == _rows(ref) and len(_rows(got)) == 24

    # a later-added column: the older dirs read it back as null
    io.write(
        "t",
        full.withColumn("id", F.col("id") + 200).withColumn("extra", F.lit("e")),
        mode="append", partition_by=["b"],
    )
    got, jobs, _ = in_job_group(spark, lambda: io.read(spark, "t"))
    assert jobs == []
    ref = _inferred_read(spark, io, "t")
    assert sorted(got.schema.fields, key=lambda f: f.name) == sorted(
        ref.schema.fields, key=lambda f: f.name
    )
    assert _rows(got) == _rows(ref) and len(_rows(got)) == 36
    # order: data columns, then partition columns, as one parquet read
    # yields them; the inferred union appended `extra` after `b`
    assert got.columns == ["id", "name", "extra", "b"]
    assert ref.columns == ["id", "name", "b", "extra"]

    # unpartitioned (the catalog base after an ALTER): identical order
    io.write("u", full)
    io.write("u", full.withColumn("extra", F.lit(7)), mode="append")
    got, jobs, _ = in_job_group(spark, lambda: io.read(spark, "u"))
    assert jobs == []
    ref = _inferred_read(spark, io, "u")
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)


def test_partition_values_read_opens_only_named_buckets(spark, tmp_path):
    """A partition-value read of a 64-bucket table stats the named
    bucket dirs and lists nothing else: no Spark job while the frame is
    built, and the rows equal the full read's rows of those buckets."""
    from pyspark.sql import functions as F

    io = TableIO(str(tmp_path))
    df = spark.range(640).select(
        F.col("id"), (F.col("id") % 64).cast("int").alias("term_bucket")
    )
    io.write("p", df.repartition("term_bucket"), partition_by=["term_bucket"])
    io.write(
        "p",
        df.filter(F.col("term_bucket") < 8).withColumn("id", F.col("id") + 1000),
        mode="append", partition_by=["term_bucket"],
    )
    got, jobs, _ = in_job_group(
        spark, lambda: io.read(spark, "p", partition_values={3, 40, 99})
    )
    assert jobs == []
    full = io.read(spark, "p")
    assert got.schema == full.schema
    want = full.filter(F.col("term_bucket").isin(3, 40))
    assert _rows(got) == _rows(want) and len(_rows(got)) == 30

    # the unpruned read still lists the 64 bucket dirs with a Spark job
    # (above the 32-path parallel-listing threshold): what pruning avoids
    _, jobs, _ = in_job_group(spark, lambda: io.read(spark, "p"))
    assert jobs

    none, jobs, _ = in_job_group(
        spark, lambda: io.read(spark, "p", partition_values=set())
    )
    assert jobs == [] and none.count() == 0
    assert none.columns == full.columns

    io.write("flat", df)
    with pytest.raises(ValueError, match="partitioned"):
        io.read(spark, "flat", partition_values={1})
