"""Skew-handling helpers (SURVEY.md §4 custom work #2).

AQE's skew-join split covers the join cases (enabled in session.py). These
helpers cover what AQE does not: aggregations with skewed grouping keys
whose aggregation buffers are NOT cheap to merge map-side (collect_set /
collect_list over Zipf-heavy entity keys — a head entity's set can be the
size of its mention count), and deliberate pre-join salting when a
broadcast is impossible.

Two-stage salted aggregation: groupBy(key, salt) partial -> groupBy(key)
final. Salt = pmod(xxhash64(a row-unique column), n_salts), deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int, unique_col: str) -> DataFrame:
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(unique_col), F.lit(n_salts))
    )


def salted_collect_set(
    df: DataFrame, key: str, value: str, n_salts: int = 16,
    unique_col: str | None = None, max_items: int | None = None,
) -> DataFrame:
    """collect_set(value) by key with bounded per-task buffers: the first
    stage collects per (key, salt) — at most 1/n_salts of a hot key's values
    per buffer — the second flattens + dedups the n_salts partial arrays.
    Optional max_items caps the final array (with deterministic sort-first
    truncation) so a head entity cannot blow up the row."""
    salted = with_salt(df, n_salts, unique_col or value)
    partial = salted.groupBy(key, SALT_COL).agg(
        F.collect_set(value).alias("__part")
    )
    merged = partial.groupBy(key).agg(
        F.array_distinct(F.flatten(F.collect_list("__part"))).alias("__all")
    )
    arr = F.sort_array(F.col("__all"))
    if max_items is not None:
        arr = F.slice(arr, 1, max_items)
    return merged.select(key, arr.alias(f"{value}_set"))

