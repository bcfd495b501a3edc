"""Distributed exact order-statistic selection: bit-identity against
Spark's holistic ``percentile`` for the sketch-bracketed two-pass
``exact_grouped_percentiles`` (both its whole-group and its sketch
branch) and for the weighted bucket path ``select_values_at_ranks``,
and plan guards proving the holistic aggregate is gone from the
exact-path gates."""

import random

import pytest
from pyspark.sql import functions as F

from curw_mike_data_handler_spark import catalog
from curw_mike_data_handler_spark.operators import robust
from curw_mike_data_handler_spark.operators.robust import (
    exact_grouped_percentiles,
    select_values_at_ranks,
)

PROBS = [0.0, 0.01, 0.37, 0.49, 0.5, 0.51, 0.9, 0.99, 1.0]


def _ref(df, probs, by):
    q = F.percentile("v", F.array(*[F.lit(p) for p in probs])).alias("q")
    rows = (df.groupBy(*by).agg(q) if by else df.agg(q)).collect()
    return {tuple(r[b] for b in by): list(r["q"]) for r in rows}


def _got(df, probs, by, acc):
    """``acc`` is the bracketing sketch's accuracy A: a group of at
    least 2A finite values takes the sketch branch, a smaller one is
    its own bracket."""
    rows = exact_grouped_percentiles(
        df, "v", probs, by=by, accuracy=acc
    ).collect()
    return {tuple(r[b] for b in by): list(r["__q"]) for r in rows}


def _bit_equal(a, b):
    return len(a) == len(b) and all(
        (x == y) or (x != x and y != y) for x, y in zip(a, b)
    )


@pytest.mark.parametrize(
    "kind,n,ngroups,acc",
    [
        ("int", 400, 3, 4),       # sketch branch, narrow brackets
        ("int", 1, 1, 4096),      # single-row group
        ("int", 2, 1, 3),         # two rows: interpolation between them
        ("int_ties", 600, 3, 5),  # heavy ties across bracket edges
        ("double", 500, 4, 8),    # double keys (theilsen's slope shape)
        ("double", 3, 2, 2),      # whole-group brackets
    ],
)
def test_bit_identity_vs_holistic_percentile(spark, kind, n, ngroups, acc):
    rng = random.Random(20260818 + n + acc)
    rows = []
    for _ in range(n):
        g = f"g{rng.randrange(ngroups)}"
        if kind == "int":
            v = rng.randrange(-(10**6), 10**6)
        elif kind == "int_ties":
            v = rng.randrange(-5, 6)
        else:
            v = rng.gauss(0, 1e5)
        rows.append((g, v))
    schema = "grp string, v " + (
        "double" if kind == "double" else "long"
    )
    df = spark.createDataFrame(rows, schema)
    ref = _ref(df, PROBS, ["grp"])
    got = _got(df, PROBS, ["grp"], acc)
    assert set(ref) == set(got)
    for g in ref:
        assert _bit_equal(ref[g], got[g]), (g, ref[g], got[g])


def test_bit_identity_global(spark):
    rng = random.Random(7)
    df = spark.createDataFrame(
        [(rng.randrange(0, 100),) for _ in range(300)], "v long"
    )
    ref = _ref(df, [0.01, 0.5, 0.99], [])
    got = _got(df, [0.01, 0.5, 0.99], [], 7)
    assert _bit_equal(ref[()], got[()])


def test_nulls_ignored_like_percentile(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 3), ("a", None), ("a", 5)],
        "grp string, v long",
    )
    ref = _ref(df, [0.5], ["grp"])
    got = _got(df, [0.5], ["grp"], 4)
    assert _bit_equal(ref[("a",)], got[("a",)])


def test_weighted_rank_selection_matches_window_formula(spark):
    """select_values_at_ranks at rank ⌈tw/2⌉ == the lower weighted
    median the previous window formulation computed (min v with
    2·cum ≥ total), including zero-weight values."""
    rng = random.Random(99)
    rows = [
        (f"g{rng.randrange(3)}", rng.randrange(-50, 50), rng.randrange(0, 5))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "grp string, __v long, __w long")
    from pyspark.sql import Window

    g = df.groupBy("grp", "__v").agg(F.sum("__w").alias("w"))
    cum = g.select(
        "grp",
        "__v",
        F.sum("w").over(Window.partitionBy("grp").orderBy("__v")).alias("cw"),
        F.sum("w").over(Window.partitionBy("grp")).alias("tw"),
    )
    ref = {
        r["grp"]: r["m"]
        for r in cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(F.min("__v").alias("m"))
        .collect()
    }
    tot = df.groupBy("grp").agg(
        F.sum("__w").alias("__tw"),
        F.min(F.col("__v").cast("double")).alias("__vmin"),
        F.max(F.col("__v").cast("double")).alias("__vmax"),
    )
    targets = tot.select(
        "grp",
        F.lit(0).cast("long").alias("__tid"),
        F.expr("(__tw + 1) div 2").alias("__target"),
    )
    got = {
        r["grp"]: r["__key"]
        for r in select_values_at_ranks(
            df,
            ["grp"],
            targets,
            tot.select("grp", "__vmin", "__vmax"),
            num_buckets=6,
        ).collect()
    }
    assert ref == got


def test_n_col_matches_count(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(17)] + [("b", 1)], "grp string, v long"
    )
    rows = exact_grouped_percentiles(
        df, "v", [0.5], by=["grp"], n_col="n"
    ).collect()
    n = {r["grp"]: r["n"] for r in rows}
    assert n == {"a": 17, "b": 1}


GATES = [
    "a9_quantiles",
    "a14_winsorized_mean",
    "approx_quantiles_contract",
    "theilsen_trend",
    "mad_anomalies",
    "conversion_latency_quantiles",
    "classifier_confusion_stats",
    "weighted_median_price",
]


def test_plan_guard_no_holistic_percentile(spark, sf_dir):
    """The r13 contract: none of the exact-percentile gates may plan
    Spark's holistic Percentile aggregate (single-task group buffer).
    percentile_approx (the mergeable sketch) stays where declared."""
    for name in GATES:
        df = catalog.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        compact = plan.replace("percentile_approx", "PAPPROX")
        assert "percentile(" not in compact, name
    # the contract gate keeps its sketch side
    df = catalog.QUERIES["approx_quantiles_contract"](spark, sf_dir)
    assert "percentile_approx" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    # a9 brackets its ranks with the sketch; the bucket path (census,
    # width_bucket histogram, locator) is for weighted ranks only
    a9 = catalog.QUERIES["a9_quantiles"](spark, sf_dir)
    analyzed = a9._jdf.queryExecution().analyzed().toString()
    assert "percentile_approx" in analyzed
    assert "width_bucket" not in analyzed


def test_nan_inf_mixed_groups_match_percentile(spark):
    """Review finding r13: NaN/±Inf in a group must neither poison the
    finite values' bucketing nor drop the group — results must stay
    bit-identical to F.percentile (NaN counts as a value that sorts
    last; −Inf first)."""
    nan, inf = float("nan"), float("inf")
    rows = (
        [("a", 1.0), ("a", 2.0), ("a", nan)]
        + [("b", 1.0), ("b", 2.0), ("b", inf)]
        + [("c", -inf), ("c", 5.0), ("c", 7.0)]
        + [("d", nan), ("d", nan)]
        + [("e", inf), ("e", -inf)]
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    probs = [0.0, 0.5, 1.0]
    ref = _ref(df, probs, ["grp"])
    got = _got(df, probs, ["grp"], 4)
    assert set(ref) == set(got)
    for g in ref:
        assert _bit_equal(ref[g], got[g]), (g, ref[g], got[g])


def test_empty_input_global_n_col_is_zero(spark):
    """Review finding r13: a by=[] selection over an EMPTY relation
    must report n_col = 0 (count semantics), not NULL."""
    df = spark.createDataFrame([], "v long")
    rows = exact_grouped_percentiles(
        df, "v", [0.5], by=[], n_col="n"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 0
    assert rows[0]["__q"] == [None]


def _assert_matches(df, probs, by, acc):
    ref = _ref(df, probs, by)
    got = _got(df, probs, by, acc)
    assert set(ref) == set(got)
    for g in ref:
        assert _bit_equal(ref[g], got[g]), (g, ref[g], got[g])


def test_sketch_branch_with_nan_inf_in_large_groups(spark):
    """Non-finite values shift each target's rank among the finite
    ones.  A group with few of them (≤ n_f/A − 2) keeps its sketch
    brackets; one with more falls back to its whole-group bracket.
    Both stay bit-identical to F.percentile."""
    rng = random.Random(53)
    nan, inf = float("nan"), float("inf")
    rows = []
    for g, extra in (
        ("few", [nan, inf, -inf, -inf]),
        ("many", [nan] * 30 + [inf] * 20 + [-inf] * 25),
        ("none", []),
    ):
        rows += [(g, rng.gauss(0, 100.0)) for _ in range(300)]
        rows += [(g, x) for x in extra]
    df = spark.createDataFrame(rows, "grp string, v double")
    _assert_matches(df, PROBS, ["grp"], 8)


def test_empty_groups_and_empty_inputs(spark):
    """A group whose values are all NULL has no order statistics and is
    absent; a NULL group key is a group like any other.  An empty
    grouped input yields no rows, an empty global input one row of
    NULLs."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), ("b", None), (None, 5), (None, 8)],
        "grp string, v long",
    )
    assert _got(df, [0.5], ["grp"], 4) == {("a",): [1.5], (None,): [6.5]}
    empty = spark.createDataFrame([], "grp string, v long")
    assert exact_grouped_percentiles(empty, "v", [0.5], by=["grp"]).collect() == []
    rows = exact_grouped_percentiles(empty, "v", [0.1, 0.9], by=[]).collect()
    assert [r["__q"] for r in rows] == [[None, None]]


def _fixed_sketch(value):
    """A stand-in for the bracketing sketch that puts every bracket
    edge at ``value``."""
    return lambda vd, probs, accuracy: F.array(
        *[F.lit(float(value))] * len(probs)
    )


def test_ties_straddling_bracket_edges(spark, monkeypatch):
    """Both edges of every bracket fall inside one run of tied values:
    the whole run is inside the bracket, the rows before it are the
    exact count below, and the walk lands in the run."""
    rows = [("g", 1)] * 100 + [("g", 7)] * 200 + [("g", 9)] * 100
    df = spark.createDataFrame(rows, "grp string, v long")
    monkeypatch.setattr(robust, "_bracket_sketch", _fixed_sketch(7))
    _assert_matches(df, [0.3, 0.5, 0.7], ["grp"], 8)


@pytest.mark.parametrize("acc", [3, 10_000])
def test_longs_past_2_53(spark, acc):
    """Longs past 2^53 collide in double space.  Bracket membership
    compares doubles (a monotone cast), the walk returns the exact
    long, and two distinct neighbor longs interpolate even when their
    doubles are equal, as in Percentile."""
    rng = random.Random(253)
    base = 2**53
    rows = [
        (f"g{rng.randrange(2)}", base + rng.randrange(-40, 40))
        for _ in range(300)
    ] + [("g0", -(base + 3)), ("g1", 2**62 + 1)]
    # one double, two longs: Percentile interpolates them at p = 0.3,
    # and (1 − 0.3)·d + 0.3·d is d − 4
    x = 27021597765993856
    rows += [("pair", x), ("pair", x + 1)]
    df = spark.createDataFrame(rows, "grp string, v long")
    _assert_matches(df, PROBS + [0.3], ["grp"], acc)


def test_bracket_miss_raises(spark, monkeypatch):
    """A sketch whose brackets miss their targets must fail the query,
    never answer.  Groups of at least 2A values use the (here broken)
    sketch; a smaller group is its own bracket and ignores it."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    rng = random.Random(11)
    df = spark.createDataFrame(
        [("g", rng.randrange(1000)) for _ in range(200)], "grp string, v long"
    )
    monkeypatch.setattr(robust, "_bracket_sketch", _fixed_sketch(5000))
    with pytest.raises((PySparkException, Py4JJavaError)) as err:
        _got(df, [0.5], ["grp"], 8)
    assert "outside its quantile-sketch bracket" in str(err.value)
    # the same sketch is never consulted for a group under 2A values
    _assert_matches(df, [0.5], ["grp"], 10_000)
