"""Session co-occurrence association rules: which items appear in the
SAME activity session, and how much more often than chance — the
market-basket family (support / confidence / lift) over sessionized
event streams.  Behavior-analytics sibling of funnel/retention/transition
(queries.py): the funnel asks "in this order", the transition matrix asks
"immediately after", this asks "together at all".

Sessions are the cumulative-break-flag form (lag > gap starts a new
session — the same boundary convention as operators/gaps.py:sessionize,
whose oracle derives sessions exactly this way): a point exactly ``gap``
after its predecessor EXTENDS the session; strictly later breaks it.

Spark-first shape, all JVM:

1. ONE window over the series key orders events and folds the break flags
   into per-event session ids (one shuffle — the sessionize shape);
2. distinct (key, session, item) — map-side combinable, rows bounded by
   sessions x distinct-items-per-session;
3. the pair stage self-joins WITHIN (key, session) with ``item_a <
   item_b`` — cost is sum over sessions of (distinct items per session
   choose 2), a data property (sessions are short) never corpus^2;
4. per-item session counts join back (AQE picks broadcast when the item
   vocabulary is small; no hard-wired broadcast — item cardinality is
   unbounded at 100 TB);
5. the total-session count is a 1-row aggregate cross-joined back
   (broadcast by construction).

Definitions over sessions (not events): ``support = n_both / n_sessions``,
``confidence_a_to_b = n_both / n_a`` (and the symmetric b_to_a),
``lift = n_both * n_sessions / (n_a * n_b)`` — lift > 1 means the items
co-occur more than independent items would.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsdownsample_spark.operators.rolling import duration_to_micros
from tsdownsample_spark.operators.timeutil import micros
from tsdownsample_spark.plans.materialize import materialize_shared

__all__ = ["session_association_rules"]


def session_association_rules(
    df: DataFrame,
    x_col: str = "ts",
    item_col: str = "event_type",
    by: Sequence[str] = ("user_id",),
    gap: str = "30 minutes",
    min_sessions: int = 1,
) -> DataFrame:
    """Association rules over per-``by`` activity sessions.

    Returns one row per unordered item pair (``item_a < item_b``) seen
    together in at least ``min_sessions`` sessions:
    ``(item_a, item_b, n_a, n_b, n_both, n_sessions, support,
    confidence_a_to_b, confidence_b_to_a, lift)``.  NULL ``x_col`` or
    ``item_col`` rows are dropped (a basket entry needs both).
    """
    if min_sessions < 1:
        raise ValueError(f"min_sessions must be >= 1, got {min_sessions}")
    by = list(by)
    gap_us = duration_to_micros(gap)
    t_dtype = dict(df.dtypes)[x_col]
    tu = (
        micros(F.col(x_col))
        if t_dtype.startswith("timestamp")
        else F.col(x_col).cast("long")
    )
    ev = df.where(
        F.col(x_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(*by, tu.alias("_tu"), F.col(item_col).alias("_item"))
    w = Window.partitionBy(*by).orderBy("_tu")
    brk = F.when(
        F.col("_tu") - F.lag("_tu").over(w) > F.lit(gap_us), 1
    ).otherwise(0)
    sessions = ev.select(
        *by, "_item", F.sum(brk).over(w).alias("_sid")
    )
    # the distinct session-item table feeds FOUR consumers (session total,
    # singles, and both sides of the pair self-join); materialize it once
    # per invocation so the scan + sessionization window + distinct run a
    # single time (plans/materialize.py)
    s = materialize_shared(sessions.select(*by, "_sid", "_item").distinct())
    n_total = (
        s.select(*by, "_sid").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions")
        )
    )
    singles = s.groupBy("_item").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    a = s.select(*by, "_sid", F.col("_item").alias("item_a"))
    b = s.select(*by, "_sid", F.col("_item").alias("item_b"))
    pairs = (
        a.join(b, [*by, "_sid"])
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .where(F.col("n_both") >= min_sessions)
    )
    na = singles.select(F.col("_item").alias("item_a"), F.col("_n").alias("n_a"))
    nb = singles.select(F.col("_item").alias("item_b"), F.col("_n").alias("n_b"))
    out = (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .crossJoin(F.broadcast(n_total))
    )
    return out.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_both",
        "n_sessions",
        (F.col("n_both") / F.col("n_sessions")).alias("support"),
        (F.col("n_both") / F.col("n_a")).alias("confidence_a_to_b"),
        (F.col("n_both") / F.col("n_b")).alias("confidence_b_to_a"),
        (
            F.col("n_both") * F.col("n_sessions")
            / (F.col("n_a") * F.col("n_b"))
        ).alias("lift"),
    )
