"""Skew mitigation utilities (100 TB posture).

Hot keys — a keyword present in most documents, a user with millions of
events — overload single reducers.  Three levers, in preference order:

1. AQE skew-join splitting (on by default, session.py) — handles most
   sort-merge join skew with zero code.
2. Two-phase salted aggregation (here): pre-aggregate on (key, salt),
   then combine — bounds any single reducer's input at
   rows(key)/n_salts.
3. Broadcast the small side (compiler does this automatically via
   Catalyst when sizes allow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _reject_salt_column(df: DataFrame) -> None:
    """A caller ``__salt`` column would be silently overwritten by
    withColumn, change which rows group/route together, and then be
    DROPPED from the result — the same silent-corruption class
    ordering.global_row_number guards against with its reserved-name
    ValueError (r11 review finding; also the salt hashed here would
    include the caller's stale salt, harmless but misleading)."""
    if "__salt" in df.columns:
        raise ValueError(
            "input already carries a __salt column (from an earlier "
            "salting stage?) — drop or rename it first; it would be "
            "silently overwritten and removed")


def salted_count_sum(df: DataFrame, keys: list[str], value_col: str,
                     n_salts: int = 32) -> DataFrame:
    """Two-phase count+sum aggregation: phase 1 on (keys..., salt),
    phase 2 combines the partials.  Algebraic aggregates only — exactly
    the ones the posting/timeseries rollups use.

    The salt must be DETERMINISTIC per row (a random or row-position
    salt re-executes differently after a shuffle-fetch failure and
    silently corrupts the two-phase totals — the SPARK-23243 class of
    bug), so it hashes row content: every non-key column (the value
    column when there is none), maximizing spread.  Degenerate case: a
    hot key whose entire rows are identical gains no spread — no
    deterministic salt can split indistinguishable rows; pre-aggregate
    upstream or add a distinguishing column."""
    _reject_salt_column(df)
    salt_cols = [c for c in df.columns if c not in keys] or [value_col]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
                  F.lit(n_salts)).alias("__salt")
    partial = (df.withColumn("__salt", salt)
               .groupBy(*keys, "__salt")
               .agg(F.count("*").alias("__n"),
                    F.sum(value_col).alias("__s")))
    return (partial.groupBy(*keys)
            .agg(F.sum("__n").alias("n"), F.sum("__s").alias("total")))

