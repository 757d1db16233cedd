"""Keyed window selections over DataFrames."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def first_per(df: DataFrame, keys, *order: Column | str) -> DataFrame:
    """The first row per `keys` (a column name or a list of them) under
    `order`: a `row_number` window filtered to `rn == 1`, `rn` dropped.
    Ties are broken only by `order`, so give it a total order when the
    result crosses the oracle boundary.  Catalyst folds a caller's later
    filter into the `rn` filter and the drop into the caller's
    projection, so the plan is the hand-written window's."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
