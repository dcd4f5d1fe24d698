"""Row-dedup operators (SURVEY §2 W3, B2).

Reference: the final merge dedups with ``ROW_NUMBER() OVER (PARTITION BY
pk, concepts, events ORDER BY ...) = 1`` (bq:etl/{omop_table}_merge.sql
.jinja:113-142; SQL Server adds a full ORDER BY for determinism,
ss:etl/{omop_table}_merge.sql.jinja:157-163).  We always order — an
unordered keep-first is nondeterministic under retries, which silently
breaks the reference's stable-id contract.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence | None = None,
    dup_flag: str | None = None,
) -> DataFrame:
    """Keep exactly one row per ``keys``, first by ``order_by``.

    ``dup_flag`` names an extra boolean column, true on a kept row whose
    key group had a second row (``__rn == 2``): the duplicate-row count
    then rides on whatever action consumes the frame.

    Scale: one shuffle on ``keys``; Spark rewrites rn=1 windows into a
    TakeOrdered-style aggregation under AQE, and skewed keys are split.
    """
    order_by = list(order_by) if order_by else [F.col(c) for c in df.columns]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    df = df.withColumn("__rn", F.row_number().over(w))
    if dup_flag:
        df = df.withColumn(dup_flag, F.lead("__rn").over(w).isNotNull())
    return df.filter(F.col("__rn") == 1).drop("__rn")
