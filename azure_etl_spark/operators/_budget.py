"""The budget probe behind the operators' driver fast paths: a fast
path collects a small frame once and finishes in Python; above its
budget the distributed plan runs unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

from azure_etl_spark.session import LOCAL_FRAME_TYPES


def collect_within(df: DataFrame, budget: int | None, key: str) -> list[Row] | None:
    """``df``'s rows when it has at most ``budget`` of them, else None.

    One ``limit(budget + 1)`` collect, so the driver never holds more
    than ``budget + 1`` rows. No job runs, and the result is None, when
    ``budget`` is None or 0 or when column ``key`` has a type
    ``local_frame`` cannot hold exactly: a fast path returns its result
    keyed by that column as a local relation.
    """
    if not budget or not isinstance(df.schema[key].dataType, LOCAL_FRAME_TYPES):
        return None
    rows = df.limit(budget + 1).collect()
    return rows if len(rows) <= budget else None
