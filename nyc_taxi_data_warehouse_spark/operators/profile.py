"""One-pass table profiling — the "what is in this table" report.

Every warehouse needs the first-contact query: row count, per-column
null rates, distinct-value estimates, ranges, and the dominant values.
Run naively that is one job per column; this operator computes the
whole report in ONE distributed pass by melting the table into
``(column, value)`` rows first (a narrow explode — no shuffle until the
single stats aggregation), so profiling a 100 TB table costs one scan
regardless of column count.

Two outputs, both metadata-sized:

- ``profile_table``: one row per column — type, nulls, approx ndv,
  min/max (as strings, for heterogeneous types), avg/max length.
- ``top_values``: the k most frequent values per column (exact counts
  from one groupBy over the melted rows) — the boilerplate/skew/enum
  detector.

The same long-row philosophy as ``sketches.py``/``drift.py``: reports
are DataFrames you can join, diff between snapshots, or gate on — not
printed text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def _melt(df: DataFrame, columns: list[str]) -> DataFrame:
    """(column, value-as-string) rows; null stays null through the
    cast so null accounting survives the melt."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("value"),
            )
            for c in columns
        ]
    )
    return df.select(F.explode(pairs).alias("p")).select("p.column", "p.value")


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column stats in one pass: ``(column, dtype, n_rows, n_nulls,
    null_frac, approx_ndv, min_value, max_value, avg_len, max_len)``."""
    columns = columns or df.columns
    dtypes = dict(df.dtypes)
    melted = _melt(df, columns)
    stats = melted.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_nulls"),
        F.approx_count_distinct("value").alias("approx_ndv"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.round(F.avg(F.length("value")), 2).alias("avg_len"),
        F.max(F.length("value")).alias("max_len"),
    )
    # a literal spine keeps one output row per column even over an
    # EMPTY table (the melt yields no rows to group there)
    spine = local_frame(
        df.sparkSession,
        [(c, dtypes[c]) for c in columns], "column string, dtype string"
    )
    stats = spine.join(stats, "column", "left").na.fill(
        {"n_rows": 0, "n_nulls": 0, "approx_ndv": 0}
    )
    return stats.select(
        "column",
        "dtype",
        "n_rows",
        "n_nulls",
        F.round(F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1)), 4).alias(
            "null_frac"
        ),
        "approx_ndv",
        "min_value",
        "max_value",
        "avg_len",
        "max_len",
    ).orderBy("column")


def top_values(
    df: DataFrame, columns: list[str] | None = None, k: int = 5
) -> DataFrame:
    """Exact k most frequent non-null values per column:
    ``(column, value, cnt, rank)`` — one groupBy + one per-column top-k
    window over the (already small) frequency rows. Ties break by value
    so the report is deterministic."""
    columns = columns or df.columns
    freq = (
        _melt(df, columns)
        .where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("column").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        freq.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("column", "rank")
    )
