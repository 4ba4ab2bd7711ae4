"""session.local_frame, the package's one way from driver-side rows to a
DataFrame: every frame it builds plans as a LocalRelation (no Python
process decodes it) and holds the rows the pickled-row
`createDataFrame(list, schema)` path would hold."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from spider_engine_spark.operators.frontier import DOC_SCHEMA
from spider_engine_spark.operators.seenset import STATE_SCHEMA
from spider_engine_spark.session import local_frame
from spider_engine_spark.sources.tableio import TableIO

PKG = Path(__file__).resolve().parent.parent / "spider_engine_spark"

_DRIVER_ROWS = re.compile(r"\b(createDataFrame|parallelize)\(")


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def test_only_local_frame_builds_driver_side_frames():
    """Driver-side frames go through session.local_frame alone: a
    createDataFrame over a Python list, or a parallelize, would run a
    pickled-row PythonRDD and start a Python daemon for the session."""
    hits = [
        f"{p.relative_to(PKG.parent)}:{i}: {line.strip()}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _DRIVER_ROWS.search(line)
    ]
    assert len(hits) == 1 and hits[0].startswith(
        "spider_engine_spark/session.py:"
    ), "\n".join(hits)


_SPAN = ("text", "héllo wörld", "", 0)
_IMG = ("image", "", "img://a/1", 11)

CASES = {
    "no_rows": ([], STATE_SCHEMA),
    "nulls": (
        [("a", None, None), (None, 3, 1.5), (None, None, None)],
        "s string, n long, x double",
    ),
    "binary": ([(0, 8, 3, b"\x00\xff\x10"), (1, 8, 0, b"")], STATE_SCHEMA),
    "array_struct": (
        [("d1", [_SPAN, _IMG], 0), ("d2", [], 2), ("d3", [_IMG], 1)],
        DOC_SCHEMA,
    ),
    "non_ascii": (
        [("美食",), ("日本語 ✓",), ("emoji 🕷",), ("\u0000é",)],
        "s string",
    ),
    "non_nullable": (
        [("k1", 1), ("k2", -(1 << 62))],
        StructType(
            [
                StructField("k", StringType(), False),
                StructField("n", LongType(), False),
            ]
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_the_python_list_frame(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _is_local(got)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    _rows, schema = CASES["non_nullable"]
    with pytest.raises(ValueError):
        spark.createDataFrame([("k", None)], schema).collect()
    with pytest.raises(ValueError, match="'n' is not nullable"):
        local_frame(spark, [("k", None)], schema)


def test_all_empty_read_is_local_with_committed_order(spark, tmp_path):
    """An all-empty TableIO.read of a partitioned table is a
    LocalRelation whose columns come in the order a parquet read of the
    same table yields: data columns, then the partition column."""
    io = TableIO(str(tmp_path))
    full = spark.range(6).select(
        (F.col("id") % 2).cast("int").alias("shard"),
        F.col("id"),
        F.col("id").cast("string").alias("name"),
    )
    io.write("empty", full.filter(F.lit(False)), partition_by=["shard"])
    io.write("full", full, partition_by=["shard"])
    got = io.read(spark, "empty")
    assert _is_local(got)
    assert got.collect() == []
    assert got.columns == io.read(spark, "full").columns == ["id", "name", "shard"]
    assert [f.dataType for f in got.schema] == [
        f.dataType for f in io.read(spark, "full").schema
    ]
