"""Grouped top-k: the one home for "top-k rows per group".

One ``row_number() OVER (PARTITION BY group ORDER BY ...)`` window with
a ``<= k`` filter. Catalyst's ``InferWindowGroupLimit`` rule (Spark 3.5+)
turns that shape into a distributed top-k on its own: a **Partial**
``WindowGroupLimit`` prunes each input partition to its top-k per group
BELOW the ``hashpartitioning(group)`` exchange, and a **Final** one
above it ranks the survivors — per-partition prune, then merge. So the
shuffle carries at most ``input_partitions x k`` rows per group, not
the whole group.

The rule fires when ``k <= spark.sql.optimizer.windowGroupLimitThreshold``
(default 1000; the largest ``k`` in use is 200, the PQ shortlist). With
an empty ``group_cols`` Catalyst plans a ``Limit(Sort)`` instead.
``tests/test_scale_plans.py`` pins the Partial-below-exchange shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Exact top-k rows per group with rank column attached.

    ``order_cols`` must define a TOTAL order per group (include a
    tiebreak) — otherwise ranks are nondeterministic."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
