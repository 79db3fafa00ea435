"""Wide-column structural operators: latest-version filter, cell→row pivot,
composite-key split/compose.

These are the declarative re-expressions of the reference's imperative scan
loop (src/execute_plan.rs:186-271 builds a 3-level HashMap
``row_key → ts → qualifier → bytes`` then emits one row per
``(row_key, ts)``).  Expressed as groupBy/pivot/window, Catalyst plans them
with partial aggregation and whole-stage codegen, and they scale out —
the reference's loop is single-threaded and fully materialized.

Scale notes (100 TB):
- ``pivot_cells`` is ONE hash-aggregate shuffle on ``(row_key, ts)``; the
  qualifier list is always the *declared* list so the plan is static (no
  distinct-values job, which `.pivot(col)` without values would trigger).
- ``latest_cells`` uses max_by-style aggregation rather than a window when
  it can be fused into the same grouping; the window variant is kept for
  exact reference semantics (cells-per-column limit before pivoting).
- both respect a prior ``repartitionByRange("row_key")`` layout: AQE keeps
  the shuffle partition count matched to data size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def latest_cells(cells: DataFrame, versions: int = 1) -> DataFrame:
    """Keep the newest ``versions`` cells per (row_key, qualifier) —
    Bigtable's ``CellsPerColumnLimitFilter`` (reference
    src/datasource/composer.rs:257-261).

    Note the reference semantics: the limit applies per *column*, so when
    qualifiers were written at different timestamps the subsequent pivot
    still emits one row per distinct (row_key, ts) — we mirror that.
    """
    w = Window.partitionBy("row_key", "qualifier").orderBy(F.desc("ts"))
    return (
        cells.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= versions)
        .drop("_rn")
    )


def pivot_cells(cells: DataFrame, qualifiers: Sequence[str]) -> DataFrame:
    """One output row per (row_key, ts); one column per declared qualifier —
    the reference's cell→row pivot (src/execute_plan.rs:223-271).

    Passing the declared qualifier list keeps the plan static and is also
    the projection pushdown: un-projected qualifiers are filtered *before*
    the shuffle (the Spark analogue of Bigtable's
    ColumnQualifierRegexFilter, composer.rs:263-281 — minus its regex
    over-match quirk, SURVEY §2 A9).

    Missing (row_key, ts, qualifier) slots yield NULL (deviation from the
    reference's empty-bytes, SURVEY §1.3).
    """
    pruned = cells.filter(F.col("qualifier").isin(list(qualifiers)))
    return (
        pruned.groupBy("row_key", F.col("ts").alias("_timestamp"))
        .pivot("qualifier", list(qualifiers))
        .agg(F.first("value", ignorenulls=True))
    )


def split_row_key(
    df: DataFrame,
    partition_cols: Sequence[str],
    separator: str = "#",
    key_col: str = "row_key",
) -> DataFrame:
    """Composite row key → one string column per component (reference
    src/execute_plan.rs:226-251; single-component keys skip the split)."""
    if not partition_cols:
        raise ValueError("table_partition_cols must be non-empty")
    if len(partition_cols) == 1:
        return df.withColumn(partition_cols[0], F.col(key_col))
    # -1 limit: trailing empty components are preserved, like Rust's split.
    parts = F.split(F.col(key_col), _re_escape(separator), -1)
    for i, name in enumerate(partition_cols):
        df = df.withColumn(name, parts.getItem(i))
    return df


def compose_row_key(cols: Sequence[Column | str], separator: str = "#") -> Column:
    """Components → composite key (reference composer.rs:141 ``parts.join``)."""
    norm = [F.col(c) if isinstance(c, str) else c for c in cols]
    if not norm:
        raise ValueError("table_partition_cols must be non-empty")
    if len(norm) == 1:
        return norm[0].cast("string")
    return F.concat_ws(separator, *[c.cast("string") for c in norm])


def _re_escape(sep: str) -> str:
    """F.split takes a Java regex; escape the separator literally."""
    import re

    return re.escape(sep)
