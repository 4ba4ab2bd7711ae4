"""tools/measure.py: one leaf's record in-process, and the A/B statistic."""

from __future__ import annotations

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def measure():
    path = os.path.join(ROOT, "tools", "measure.py")
    spec = importlib.util.spec_from_file_location("measure", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_measure_records_one_leaf(measure, spark):
    rec = measure.measure(spark, SF, "tpch_q6")
    assert rec["leaf"] == "tpch_q6" and rec["sf"] == SF
    assert rec["cpus"] >= 1 and rec["wall_s"] > 0
    assert rec["spark.jobs_per_op"] >= 1
    assert {"spark.stages_per_op", "spark.shuffle_read_mb", "spark.spill_mb",
            "spark.input_mb", "pyudf.time_s"} <= rec.keys()
    # a repeated leaf counts only its own jobs
    again = measure.measure(spark, SF, "tpch_q6")
    assert again["spark.jobs_per_op"] == rec["spark.jobs_per_op"]


def test_ab_summary(measure):
    a = [2.0, 1.0, 3.0, 2.0, 4.0]
    b = [1.0, 2.0, 1.5, 1.0, 4.0]
    # paired ratios a/b: 2, 0.5, 2, 2, 1 -> median 2; B wins rounds 0, 2, 3
    assert measure.summarize(a, b) == {
        "a_min_s": 1.0, "b_min_s": 1.0, "ratio_median": 2.0, "b_wins": 3,
    }
