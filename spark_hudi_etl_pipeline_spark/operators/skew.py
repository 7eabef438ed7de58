"""Skew mitigation: salted aggregation and salted joins.

SURVEY.md §7's risk register names skew the main 100 TB hazard beyond
what AQE's skew-join split already handles. Two manual patterns for the
cases AQE can't fix:

- **Salted aggregation** — a groupBy on a low-cardinality / hot key
  funnels everything for one key through one reducer. Adding a random
  salt to the key makes the first (heavy) aggregation fan out over
  ``n_salts`` reducers per key; a second (tiny) aggregation over
  (key, partial) merges the salt shards. Only works for algebraic
  aggregates (sum/count/min/max — anything with a merge step).
- **Salted join** — a shuffle join where one side has hot keys: salt the
  big side's key randomly, replicate each small-side row across all
  salts, join on (key, salt). Replication factor = ``n_salts``, so use it
  surgically on the hot keys only (or broadcast the small side when it
  fits, which beats salting entirely).

Both are correctness-invariant rewrites — the salted plan must produce
exactly the plain plan's result, which is what plans/analytics_ext's
``salted_agg_order_priority`` oracle-checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Attach a uniform random salt in [0, n_salts). Nondeterministic by
    design (fresh per row, per run) — never project it into results."""
    return df.withColumn(SALT_COL, (F.rand() * n_salts).cast("int"))


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    count_alias: str | None = None,
    *,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation: per-(key, salt) partial sums/counts,
    then merge partials per key.

    ``sums`` maps input column -> output alias; ``count_alias`` adds a
    row count. The heavy shuffle carries keys × n_salts groups; the
    second shuffle is n_salts rows per key — negligible.
    """
    partial_aggs = [
        F.sum(c).alias(f"__p_{alias}") for c, alias in sums.items()
    ]
    if count_alias:
        partial_aggs.append(F.count(F.lit(1)).alias(f"__p_{count_alias}"))
    partial = with_salt(df, n_salts).groupBy(*keys, SALT_COL).agg(*partial_aggs)
    final_aggs = [
        F.sum(f"__p_{alias}").alias(alias) for alias in sums.values()
    ]
    if count_alias:
        final_aggs.append(F.sum(f"__p_{count_alias}").alias(count_alias))
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join with the big side salted and the small side replicated
    ``n_salts``× — spreads each hot key over n_salts reducers.

    Prefer ``F.broadcast(small)`` when the small side fits in memory;
    salting is for the in-between regime (small side too big to
    broadcast, big side too skewed to shuffle-join flat).
    """
    salted_big = with_salt(big, n_salts)
    replicated = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_big.join(replicated, on=[*on, SALT_COL]).drop(SALT_COL)
