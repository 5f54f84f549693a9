"""Exchange-surface tests: Arrow-batch transforms stay on executors and
preserve values exactly."""

from __future__ import annotations

import ast
import datetime
import pathlib

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import agol_pandas_spark
from agol_pandas_spark.exchange import (
    grouped_apply,
    local_frame,
    map_arrow_batches,
    map_batches,
)


def test_map_arrow_batches_zero_copy_kernel(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v"))

    def double_v(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pc.multiply(b.column(1), 2)], names=["id", "v"]
            )

    out = map_arrow_batches(df, double_v, "id long, v long")
    rows = {r.id: r.v for r in out.collect()}
    assert rows == {i: i * 4 for i in range(1000)}


def test_map_batches_pandas(spark):
    df = spark.range(100).select(F.col("id"))

    def add_one(pdfs):
        for pdf in pdfs:
            pdf["id"] = pdf["id"] + 1
            yield pdf

    out = map_batches(df, add_one, "id long")
    assert sorted(r.id for r in out.collect()) == list(range(1, 101))


def _local_frame_schema(*fields):
    return T.StructType([T.StructField(n, t) for n, t in fields])


def test_local_frame_is_a_local_relation_and_runs_no_job(spark):
    """Driver-built rows enter Spark as an Arrow LocalRelation: the
    analyzed plan has no RDD leaf and collecting it runs zero jobs (the
    pickled-list path runs one Python-worker job)."""
    schema = _local_frame_schema(
        ("b", T.ByteType()), ("s", T.ShortType()), ("i", T.IntegerType()),
        ("l", T.LongType()), ("str", T.StringType()), ("d", T.DoubleType()),
        ("dt", T.DateType()), ("f", T.BooleanType()),
    )
    rows = [
        (1, 2, 3, 4, "x", 0.5, datetime.date(2024, 2, 29), True),
        (None, None, None, None, None, None, None, None),
    ]
    df = local_frame(spark, rows, schema)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.startswith("LocalRelation"), analyzed
    sc = spark.sparkContext
    group = "test-local-frame-no-job"
    sc.setJobGroup(group, "local_frame collect")
    try:
        got = [tuple(r) for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert got == rows
    assert df.schema == schema
    empty = local_frame(spark, [], schema)
    assert empty.collect() == [] and empty.schema == schema


def test_local_frame_exact_integers_and_refuses_timestamps(spark):
    """int64 keys above 2^53 and negative keys survive exactly (no
    float64 detour); a timestamp field raises TypeError, because the
    Arrow and list paths localize naive datetimes differently."""
    keys = [(1 << 62) + 1, (1 << 53) + 1, -((1 << 62) + 3), -1, 0]
    df = local_frame(
        spark, [(k,) for k in keys], _local_frame_schema(("k", T.LongType()))
    )
    assert [r.k for r in df.collect()] == keys
    assert df.where(F.col("k") == (1 << 53) + 1).count() == 1
    with pytest.raises(TypeError, match="ts: timestamp"):
        local_frame(
            spark,
            [(1, datetime.datetime(2024, 1, 1))],
            _local_frame_schema(("k", T.LongType()), ("ts", T.TimestampType())),
        )


#: the only engine call sites that may still hand createDataFrame a
#: Python list: their values are caller-typed (timestamps included), and
#: the list path is the one whose datetime conversion they document
_LIST_CREATE_DATAFRAME_SITES = {
    ("catalog.py", "scan_skipping"),
    ("sources/paged.py", "read_paged_aggregate"),
}


def test_engine_builds_driver_rows_with_local_frame_only():
    """Outside ``workload/`` no engine module passes a list, tuple,
    comprehension or ``list(...)`` to ``createDataFrame``: driver rows
    go through ``exchange.local_frame``, empty frames are ``.limit(0)``
    of the frame whose schema they copy."""
    pkg = pathlib.Path(agol_pandas_spark.__file__).parent
    listy = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)
    found = set()

    class Visitor(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.scope = rel, []

        def _scoped(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_FunctionDef = visit_AsyncFunctionDef = _scoped

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "createDataFrame":
                data = node.args[0] if node.args else next(
                    (k.value for k in node.keywords if k.arg == "data"), None
                )
                if isinstance(data, listy) or (
                    isinstance(data, ast.Call)
                    and isinstance(data.func, ast.Name)
                    and data.func.id in ("list", "tuple")
                ):
                    found.add((self.rel, self.scope[-1] if self.scope else ""))
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel.startswith("workload/"):
            continue
        Visitor(rel).visit(ast.parse(path.read_text(), filename=str(path)))
    assert found == _LIST_CREATE_DATAFRAME_SITES
