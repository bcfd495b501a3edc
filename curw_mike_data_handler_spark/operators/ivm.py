"""Incremental view maintenance for algebraic aggregates.

The lakehouse rollup-maintenance pattern: a materialized per-key
aggregate (counts/sums — any commutative-monoid state) is kept current
by folding in each newly arrived partition's PARTIAL aggregate, never
re-reading history.  At 100 TB this is the difference between an
hourly job that scans one hour and one that scans seven years: the
merge's cost is O(|state| + |delta|), and the state table itself stays
keyed (bucketed/partitioned) so the merge shuffle is co-located.

Correctness rests on associativity+commutativity of the state monoid —
the same property Spark's own partial aggregation exploits inside one
query, lifted across queries.  The catalog query proves it by folding
three arrival batches and hash-matching a full-recompute oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_rollup(
    df: DataFrame, keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """One batch → its per-key partial state (sums; attach counts by
    summing a literal 1 column upstream)."""
    return df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])


def merge_rollup_states(
    states: Sequence[DataFrame], keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Fold partial states into the maintained aggregate: union +
    one grouped sum per merge — never touches base data.  With the
    state table bucketed on ``keys`` the exchange disappears
    entirely (sources/manifest_bucketed.py keeps that bucket spec
    across appends)."""
    out = states[0]
    for delta in states[1:]:
        out = (
            out.unionByName(delta)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
    return out
