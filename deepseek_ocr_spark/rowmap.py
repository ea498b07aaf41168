"""The one Python row stage: ``map_rows(df, fn, schema)``.

Every per-row Python transform outside the fused extraction stage
(pipeline/extract_job.py) is a row function under this shell: the vision
pixel stages, the multimodal decode/feature/audio/video lanes, the PDF
source, and the PDF sink's page prep and synthetic pixmaps. The row
function owns the work and its drop rule; the shell owns the Arrow-batch
boundary, so batch shape, column order and the empty-batch dtype are
written once.

``fn(*row)`` receives one input row's values in the select order of
``df`` and returns an iterable of output tuples in ``schema`` order: no
tuple drops the row, one keeps it, many fan it out (tile crops, frames).
Exceptions ``fn`` does not catch fail the task.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: T.StructType
) -> DataFrame:
    """One Arrow-batched MapInPandas running ``fn`` per row of ``df``."""
    names = schema.fieldNames()

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            # tolist boxes a column in one C call; iterating the Series
            # yields the same Python values one lookup at a time
            cols = [pdf[c].tolist() for c in pdf.columns]
            rows = [out for row in zip(*cols) for out in fn(*row)]
            # from_records with no rows still gives object-dtype columns; a
            # dict of empty lists is float64, which Arrow cannot cast to a
            # string or binary field
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.mapInPandas(batches, schema)
