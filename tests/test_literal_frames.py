"""Literal frames plan as JVM local relations, never as Python RDDs.

``spark.createDataFrame(<python list>)`` plans a ``Scan ExistingRDD``
over a Python RDD: each scan runs Python workers, and the first one in
a session starts the Python daemon. ``sources.batch.literal_frame``
builds the same rows as an Arrow table, which plans a
``LocalTableScan``. Each producer below must plan that way, and the
AST lint keeps every other package call site off ``createDataFrame``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from big_data_2021_spark_streaming_spark.operators import similarity as sim
from big_data_2021_spark_streaming_spark.plans.registry import all_queries
from big_data_2021_spark_streaming_spark.plans.rsvp_fixture import _envelope_df
from big_data_2021_spark_streaming_spark.schemas import states_dimension
from big_data_2021_spark_streaming_spark.streaming import pipeline

PKG = Path(__file__).resolve().parent.parent / "big_data_2021_spark_streaming_spark"


def _drift_output(spark, sf_dir, tmp_path, monkeypatch):
    # the reference frame lives inside the per-batch writer: capture the
    # frame the writer writes and check the plan it carries
    written = []
    real_write = ClassicDataFrame.write

    def spy(df):
        written.append(df)
        return real_write.fget(df)

    monkeypatch.setattr(ClassicDataFrame, "write", property(spy))
    write = pipeline.drift_monitor_batch_writer(
        {0: 3, 1: 2}, 0.0, 10.0, str(tmp_path / "drift")
    )
    write(spark.range(5).select(F.col("id").cast("double").alias("value")), 0)
    (out,) = written
    return out


PRODUCERS = {
    "states_dimension": lambda spark, *_: states_dimension(spark),
    "rsvp_envelope": lambda spark, *_: _envelope_df(spark),
    "lloyd_centroids": lambda spark, *_: sim._cent_frame(
        spark, {i: [0.5 * i] * sim.DIM for i in range(3)}
    ),
    "pq_codebook": lambda spark, *_: sim._pq_codebook(spark),
    "pruning_report_grid": lambda spark, sf_dir, *_: all_queries()[
        "partition_pruning_audit"
    ].build(spark, sf_dir),
    "drift_reference": _drift_output,
}


@pytest.mark.parametrize("producer", sorted(PRODUCERS))
def test_literal_frame_plans_as_local_table_scan(
    spark, sf_dir, tmp_path, monkeypatch, producer
):
    df = PRODUCERS[producer](spark, sf_dir, tmp_path, monkeypatch)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(enclosing function, line) of every ``.createDataFrame(`` call."""

    def __init__(self):
        self.scope = ["<module>"]
        self.calls = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.calls.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def test_no_create_dataframe_outside_literal_frame():
    # every literal frame goes through sources.batch.literal_frame, the
    # one call site that hands createDataFrame an Arrow table
    found = []
    for path in sorted(PKG.rglob("*.py")):
        calls = _CreateDataFrameCalls()
        calls.visit(ast.parse(path.read_text()))
        rel = path.relative_to(PKG).as_posix()
        found += [(rel, fn, line) for fn, line in calls.calls]
    assert [(rel, fn) for rel, fn, _ in found] == [
        ("sources/batch.py", "literal_frame")
    ], found
