"""The benchmark's sink and its output checks.

``sink`` drains a DataFrame through Spark's ``noop`` writer: every row of
every output column is computed, nothing is kept. ``df.count()`` is not a
sink here, because Catalyst prunes the columns (and aggregates) a count does
not need.

``digest`` is the check: one aggregation job giving the row count and the
sum of per-row tokens (``gen.row_token``), which does not depend on row
order and is compared with the generator's own record."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def row_token_col(*cols: str):
    """Spark twin of ``gen.row_token`` over the named columns."""
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("decimal(20,0)")


def digest(df: DataFrame, *cols: str) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row_token_col(*cols)).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def last_execution_plan(spark) -> str:
    """Physical plan text of the most recent SQL execution, from Spark's
    SQL status store (kept with the UI disabled too)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).physicalPlanDescription()


def most_aggregates(plan: str) -> int:
    """Largest aggregate-function count of any aggregate node in a
    physical-plan description (its ``Functions [N]: [...]`` line)."""
    return max((int(n) for n in re.findall(r"^Functions \[(\d+)\]", plan, re.M)), default=0)
