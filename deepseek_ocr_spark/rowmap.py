"""The one Python row stage: ``map_rows(df, fn, schema)``.

Every per-row Python transform in the package, the fused extraction
stage (pipeline/extract_job.py) included, is a row function under this
shell. The row function owns the work and its drop rule; the shell owns
the Arrow-batch boundary (one ``mapInArrow``), so batch shape, column
order and output types are written once.

``fn(*row)`` receives one input row's values in the select order of
``df`` as Arrow's Python values (``None`` for NULL, ``list`` for arrays,
``dict`` for structs, tz-aware ``datetime`` for timestamps) and returns
an iterable of output tuples in ``schema`` order: no tuple drops the row,
one keeps it, many fan it out (tile crops, frames). A top-level timestamp
it yields keeps its instant; a naive one is read as UTC. Exceptions
``fn`` does not catch fail the task.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _utc(vals) -> list:
    # with PYARROW_IGNORE_TIMEZONE set (pandas-on-Spark sets it), pa.array
    # stores a tz-aware datetime's wall time as if it were UTC; an instant
    # already in UTC converts the same with or without it
    return [
        v.astimezone(timezone.utc) if v is not None and v.tzinfo is not None else v
        for v in vals
    ]


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: T.StructType
) -> DataFrame:
    """One Arrow-batched MapInArrow running ``fn`` per row of ``df``."""
    arrow_schema = to_arrow_schema(schema)
    fields = [(f, pa.types.is_timestamp(f.type)) for f in arrow_schema]

    def batches(rbs: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in rbs:
            cols = [c.to_pylist() for c in rb.columns]
            rows = [out for row in zip(*cols) for out in fn(*row)]
            # one typed array per output column; a batch with no rows takes
            # the same path and gives empty arrays of the declared types
            outs = zip(*rows, strict=True) if rows else [()] * len(fields)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(_utc(vals) if ts else vals, type=field.type)
                    for vals, (field, ts) in zip(outs, fields, strict=True)
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(batches, schema)
