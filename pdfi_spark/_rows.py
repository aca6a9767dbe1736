"""The one per-row Python map over Arrow batches.

Every per-document Python stage that turns each input row into zero or
more output rows (PDF extraction and the commit path's timed wave, page
generation, HTML strip, WARC parse, PDF probes) goes through
``map_rows``: the batch loop, the row zip and the pandas
frame are written here once, and each output column is named once, in
the schema string.
"""
from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: str) -> DataFrame:
    """``fn(*row)`` over every row of ``df``, values in ``df``'s column
    order as the Arrow batch holds them; ``fn`` yields zero or more
    tuples in ``schema`` (DDL) order. The physical operator is
    ``MapInPandas``; per-row containment is ``fn``'s own business."""
    struct = StructType.fromDDL(schema)
    columns = struct.fieldNames()

    def run(batches):
        for batch in batches:
            rows = [out
                    for row in zip(*(batch[c] for c in batch.columns))
                    for out in fn(*row)]
            yield pd.DataFrame(rows, columns=columns)

    # plans and the Spark UI name a map after its function
    run.__name__ = run.__qualname__ = fn.__name__
    return df.mapInPandas(run, schema=struct)
