"""Arrow exchange & Python-UDF surface (SURVEY §7 step 5).

The reference's whole execution model is "pull everything to the driver,
process with pandas in a loop" (``df_to_pandas_chunks``,
``src/agol_pandas.py:159-216``, with a full re-collect per chunk at
``:204``). This module is the engine's sanctioned pandas interop, in
order of preference:

1. stay in JVM expressions (everything in ``functions/`` — no pandas);
2. :func:`grouped_apply` / :func:`map_batches` — Arrow-batched pandas on
   the **executors** (``applyInPandas`` / ``mapInPandas``);
3. :func:`to_pandas_chunks` — ordered pandas chunks on the **driver**,
   only for feeding non-distributed sinks (the reference's actual use
   case), collected once.

The other direction — a small table the driver computed (footer spans,
per-partition offsets, mix weights, path lists) entering a plan — has
one way in: :func:`local_frame`. It ships the rows as an Arrow table,
which analyzes to a ``LocalRelation``; ``createDataFrame(list, schema)``
would ship a pickled RDD whose first action starts Python workers.

Row-at-a-time Python UDFs are deliberately not wrapped: at 100 TB the
~10-100× penalty vs Arrow batching makes them a bug, not an option.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from agol_pandas_spark.operators.chunking import iter_pandas_chunks as to_pandas_chunks  # noqa: F401


def grouped_apply(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
) -> DataFrame:
    """Per-group pandas transform (``applyInPandas``).

    One shuffle on ``keys``; each group must fit in one worker's memory —
    that is the operator's contract, so key cardinality/skew is the thing
    to check before reaching for this (salt or pre-aggregate when one
    group could be huge).
    """
    return df.groupBy(*[df[k] for k in keys]).applyInPandas(fn, schema=schema)


def map_batches(
    df: DataFrame,
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: T.StructType | str,
) -> DataFrame:
    """Streaming Arrow-batch transform (``mapInPandas``): no shuffle, no
    per-group memory requirement; the go-to for per-row Python logic
    (tokenizers, codecs — see ``operators/multimodal.py``)."""
    return df.mapInPandas(fn, schema=schema)


def map_arrow_batches(
    df: DataFrame,
    fn,
    schema: T.StructType | str,
) -> DataFrame:
    """Arrow-RecordBatch transform (``mapInArrow``): like
    :func:`map_batches` but hands the Python worker raw
    ``pyarrow.RecordBatch`` objects — no pandas conversion, so columnar
    kernels (pyarrow.compute, numpy-on-buffers) run zero-copy. Prefer this
    over pandas batches when the kernel is itself Arrow-native."""
    return df.mapInArrow(fn, schema=schema)


def grouped_apply_arrow(
    df: DataFrame,
    keys: Sequence[str],
    fn,
    schema: T.StructType | str,
) -> DataFrame:
    """Per-group Arrow-table transform (``applyInArrow``): the zero-copy
    sibling of :func:`grouped_apply` — each group arrives as one
    ``pyarrow.Table`` and the kernel returns one. Same contract (one
    shuffle on ``keys``, a group must fit in one worker), minus the
    pandas conversion overhead — prefer it when the per-group kernel is
    Arrow/numpy-native."""
    return df.groupBy(*[df[k] for k in keys]).applyInArrow(fn, schema=schema)


#: the field types :func:`local_frame` converts: every one has a single
#: Python value shape and one exact Arrow type, so the Arrow path and the
#: pickled-list path it replaces cannot disagree on a value
_LOCAL_FRAME_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
    T.DoubleType,
    T.DateType,
    T.BooleanType,
)


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType
) -> DataFrame:
    """Driver-built rows as a DataFrame backed by a ``LocalRelation``.

    ``rows`` are tuples in ``schema`` field order. The rows become one
    ``pyarrow.Table`` typed by ``schema``, so collecting, joining or
    broadcasting the result runs no Python worker and no job of its own
    (the list path gives a ``LogicalRDD`` whose first action runs one).
    Integers convert exactly at any magnitude.

    Only integral, string, double, date and boolean fields are accepted;
    any other type raises ``TypeError``. Timestamps in particular are
    refused: the Arrow path and the list path localize naive datetimes
    differently.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if not isinstance(f.dataType, _LOCAL_FRAME_TYPES)
    ]
    if bad:
        raise TypeError(f"local_frame cannot convert field(s) {bad}")
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
