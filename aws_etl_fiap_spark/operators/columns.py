"""Column-level ops: casts, derived date parts, renames, literals
(reference §2.2 P2-P8, §2.8 F1/F2/F7).

All are ``Project`` nodes — zero shuffles, folded into whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cast_to_date(df: DataFrame, column: str, out: str | None = None) -> DataFrame:
    """timestamp -> date (reference P2, b3_transform.py:41)."""
    return df.withColumn(out or column, F.to_date(F.col(column)))


def add_date_parts(df: DataFrame, date_col: str, year_col: str = "year", month_col: str = "month") -> DataFrame:
    """Add integer year/month columns (reference P3, b3_transform.py:44-46)."""
    return df.withColumn(year_col, F.year(F.col(date_col))).withColumn(
        month_col, F.month(F.col(date_col))
    )


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Bulk rename (reference P4, b3_transform.py:62-64)."""
    return df.withColumnsRenamed(dict(mapping))


def add_processing_date(df: DataFrame, column: str = "dataproc") -> DataFrame:
    """``dataproc`` = current date as yyyyMMdd string (reference P5/F7,
    b3_collector.py:106-107). Constant-folded by Catalyst, evaluated once."""
    return df.withColumn(column, F.date_format(F.current_timestamp(), "yyyyMMdd"))


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Lowercase + space->hyphen over all names (reference P6,
    b3_collector.py:78). Produces hyphenated identifiers like ``stock-splits``
    on purpose — downstream code must handle them via backticks."""
    return df.toDF(*[c.lower().replace(" ", "-") for c in df.columns])


def rename_date_fallback(df: DataFrame, target: str = "date",
                         candidates: Sequence[str] = ("index", "datetime", "timestamp")) -> DataFrame:
    """If ``target`` is missing, rename the first present candidate to it
    (reference P7, b3_collector.py:88-95)."""
    if target in df.columns:
        return df
    for cand in candidates:
        if cand in df.columns:
            return df.withColumnRenamed(cand, target)
    return df


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Column select (reference P8). Hyphenated names are safe here because
    string column references don't go through the expression parser."""
    return df.select(*columns)
