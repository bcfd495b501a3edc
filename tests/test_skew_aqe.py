"""AQE skew-join handling — the runtime answer to skewed join keys
at 100 TB (SCALE.md's salting discussion is the manual fallback; this
test proves the AUTOMATIC path engages on this engine's session).

A join key with one hot value concentrates a partition far above its
siblings; with adaptive skew-join enabled Spark splits the oversized
partition into sub-partitions at runtime (replicating the matching
build side), which shows up as ``skew=true`` on the SortMergeJoin in
the final adaptive plan.  The thresholds are lowered to trip on
test-sized data; production defaults (256 MB) scale the same logic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    # a constant-key hot partition compresses to ~tens of KB,
    # so the trip threshold must sit well below it
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # a downstream op that needs the join's hash partitioning (e.g. a
    # groupBy on the key) vetoes the skew split unless forced
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def test_aqe_splits_skewed_join_partition(spark):
    old = {k: spark.conf.get(k, None) for k in SKEW_CONFS}
    for k, v in SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        # hot key: 95% of the left side lands on k=0
        left = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, 0)
            .otherwise(F.col("id") % 64)
            .alias("k"),
            (F.col("id") % 1000).alias("v"),
        )
        right = spark.range(4_000).select(
            (F.col("id") % 64).alias("k"), F.col("id").alias("w")
        )
        j = left.join(right, "k").agg(F.count("*").alias("n"))
        n_out = j.collect()[0].n
        per_right = {r.k: r["count"] for r in right.groupBy("k").count().collect()}
        per_left = {r.k: r["count"] for r in left.groupBy("k").count().collect()}
        assert n_out == sum(
            n * per_right.get(k, 0) for k, n in per_left.items()
        ), "skew split must not change the join result"
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "AQE did not mark the hot join partition as skewed:\n"
            + plan[:2000]
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_catalog_skew_query_plan_splits(spark, tmp_path):
    """The FIRST-CLASS catalog query j12_skew_join_aqe (r8 verdict #2)
    must actually engage the AQE skew split on its zipfian hot_key
    when the hot partition crosses the (test-lowered) threshold — and
    its forced-merge hint must have produced a shuffle join for the
    split to act on.

    AQE splits a skewed reduce partition at MAPPER-BLOCK granularity;
    the sf0.01 gate reads one single-row-group parquet file (one
    mapper), so the hot partition there is one indivisible block.  A
    production fact scan is thousands of files/row-groups — emulate
    that by rewriting the SAME fact as 16 files and running the SAME
    join+rollup shape (catalog._skew_join_agg, the body of j12)."""
    from curw_mike_data_handler_spark import catalog

    # sf0.01's hot partition is a few tens of KB compressed — sit the
    # trip thresholds below that (production keeps the 256 MB default;
    # the split logic is scale-free)
    confs = {
        **SKEW_CONFS,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        sf = "/root/testdata/sf0.01"
        catalog._skewed_fact(spark, sf).repartition(16).write.parquet(
            str(tmp_path / "fact16")
        )
        fact = spark.read.parquet(str(tmp_path / "fact16"))
        dim = catalog._t(spark, sf, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        df = catalog._skew_join_agg(fact, dim)
        rows = df.collect()
        assert len(rows) == 5  # one per market segment — non-vacuous
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin" in plan, "merge hint must force a shuffle join"
        assert "skew=true" in plan, (
            "j12's hot partition was not split by AQE:\n" + plan[:2000]
        )
        # the catalog entry itself stays correct (and identical) at the
        # gate even though its single-block scan can't be split there
        gate = {tuple(r) for r in catalog.QUERIES["j12_skew_join_aqe"](spark, sf).collect()}
        assert gate == {tuple(r) for r in rows}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_catalog_salted_join_spreads_hot_key(spark):
    """j13_skew_join_salted must shuffle on (key, salt) — the hot key's
    rows land in n_salts different partitions BY CONSTRUCTION, no AQE
    involvement — and the salted relation must be physically balanced:
    no post-shuffle partition may hold more than ~2/n_salts of the hot
    key's rows (un-salted, one would hold ALL of them)."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark import catalog
    from curw_mike_data_handler_spark.operators.skewjoin import salted_equi_join

    df = catalog.QUERIES["j13_skew_join_salted"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "salt column must participate in the exchange"
    assert plan.count("SortMergeJoin") >= 1 or plan.count("ShuffledHashJoin") >= 1

    # physical-balance check on the join output, before aggregation
    ev = catalog._t(spark, "/root/testdata/sf0.01", "events")
    fact = ev.select(
        F.when(F.col("user_id") % 3 != 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("hot_key"),
        "user_id",
        "value",
    )
    dim = (
        catalog._t(spark, "/root/testdata/sf0.01", "customer")
        .select("c_custkey", "c_mktsegment")
        .hint("merge")
    )
    # AQE's partition coalescing re-merges the tiny sf0.01 partitions
    # (correct at this size, but it hides exactly what we're measuring)
    # — disable it for the balance probe only
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", None)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        j = salted_equi_join(fact, dim, "hot_key", "c_custkey", n_salts=8,
                             salt_source="user_id")
        hot = j.filter(F.col("hot_key") == 0)
        per_part = (
            hot.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
        else:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
    total = sum(r["count"] for r in per_part)
    assert total > 0
    assert len(per_part) >= 4, f"hot key landed in only {len(per_part)} partitions"
    assert max(r["count"] for r in per_part) <= total * 2 / 8 + 1


def test_salted_join_keeps_null_seed_rows(spark):
    """A NULL in the salt_source column must not drop the row: pmod of
    NULL is NULL, and a NULL salt matches nothing in an inner join —
    the operator coalesces it to salt 0 so the salted join stays
    bit-identical to the plain equi join (its documented contract)."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.skewjoin import (
        salted_equi_join,
    )

    fact = spark.createDataFrame(
        [(1, None, 10.0), (1, 7, 20.0), (2, None, 30.0), (3, 5, 40.0)],
        "k long, seed long, v double",
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k2 long, tag string")
    got = {
        (r["k"], r["v"], r["tag"])
        for r in salted_equi_join(
            fact, dim, "k", "k2", n_salts=4, salt_source="seed"
        ).collect()
    }
    want = {
        (r["k"], r["v"], r["tag"])
        for r in fact.join(dim, fact["k"] == dim["k2"]).collect()
    }
    assert got == want and (1, 10.0, "a") in got


@pytest.mark.parametrize("fact_key_type", ["bigint", "int"])
@pytest.mark.parametrize("partitions", [3, 8, 32])
def test_salted_join_matches_plain_join_at_any_partition_count(
    spark, partitions, fact_key_type
):
    """Below, at and above n_salts shuffle partitions the salted join
    returns exactly the plain equi join's rows, and the hot key fills
    exactly n_salts distinct partitions (the salt is the partition id).
    An int fact key against a bigint dim key must still match: Spark
    hashes int 5 and bigint 5 differently, so the key's home partition
    has to be computed in the type the equality compares them in."""
    from collections import Counter

    from curw_mike_data_handler_spark.operators.skewjoin import (
        salted_equi_join,
    )

    n_salts = 8
    fact = spark.range(3000).select(
        F.when(F.col("id") % 3 != 0, F.lit(0))
        .otherwise(F.col("id") % 211)
        .cast(fact_key_type)
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(200).select(
        F.col("id").alias("k2"), (F.col("id") * 10).alias("w")
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        salted = salted_equi_join(
            fact, dim, "k", "k2", n_salts=n_salts, salt_source="v"
        )
        got = Counter(tuple(r) for r in salted.collect())
        hot_parts = (
            salted.filter(F.col("k") == 0)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    plain = fact.join(dim, fact["k"] == dim["k2"]).select("k", "v", "w")
    want = Counter(tuple(r) for r in plain.collect())
    assert sum(want.values()) > 2000  # the hot key alone joins 2000 rows
    assert got == want
    assert hot_parts == n_salts


def test_salted_join_refuses_keys_without_common_type(spark):
    from curw_mike_data_handler_spark.operators.skewjoin import (
        salted_equi_join,
    )

    fact = spark.range(4).select((F.col("id") % 2 == 0).alias("k"))
    dim = spark.range(4).select(F.col("id").cast("int").alias("k2"))
    with pytest.raises(ValueError, match="no common type"):
        salted_equi_join(fact, dim, "k", "k2")
