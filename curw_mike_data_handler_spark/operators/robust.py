"""Robust statistics over value columns: quantiles, winsorized means.

Scale contract (SCALE.md "Percentiles"): Spark's ``percentile`` is a
HOLISTIC aggregate — every value in the group is buffered into the
final merge, so an exact global percentile over a 100-TB column OOMs
the merging task.  Every entry point here therefore defaults to
``exact=False`` → ``approx_percentile`` (the mergeable KLL/GK-style
sketch, bounded memory, error ≤ 1/accuracy quantile ranks — the bound
``approx_quantiles_contract`` attests empirically).  ``exact=True``
exists for gate-scale oracle attestation: the catalog queries pin it
so DuckDB's ``quantile_cont`` hash-compares exactly — and the exact
path is itself DISTRIBUTED and bit-identical to ``percentile``:
``exact_grouped_percentiles`` brackets each target rank with that same
sketch in one grouped aggregate, then selects exactly among the few
rows inside the bracket (two reads of the rows, no exchange of the
data, at most 2A rows or about 6n/A distinct values per target at
sketch accuracy A).  Weighted ranks, which no sketch can bracket, go
through the bucket-histogram ``select_values_at_ranks``.

Reference parity: the reference clamps known-bad sentinel codes
(`replace_negative_numbers_with_nan`, rf_linux:118); winsorizing is the
same defense for unknown-bad magnitudes, expressed as thresholds + one
grouped aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_ACCURACY = 10_000

# Bucket count for the weighted exact order-statistic selection
# (select_values_at_ranks).  Cost model: the histogram relation is
# O(groups × buckets) rows (tiny at any data scale) and the
# within-bucket finish sorts ~|distinct values| / num_buckets rows per
# task, so 4096 turns a 10¹²-row group into ~10⁸-distinct-per-bucket
# worst case — and real value domains (cents) are far smaller.  Raise
# it (or recurse) before touching the exact contract.
DEFAULT_SELECT_BUCKETS = 4096

# Sketch accuracy A of exact_grouped_percentiles' bracketing pass: rank
# error n/A, so a target's bracket holds about 6n/A distinct values, and
# a group under 2A finite values is its own bracket.  The approx path's
# accuracy: measured on the exact gates at sf0.01 and sf0.1 (4 cores),
# A = 1000 cost no less CPU overall, and 10⁴ keeps a 10⁹-row group's
# candidates near 6·10⁵ values per target.
BRACKET_ACCURACY = DEFAULT_ACCURACY


def _nullsafe_bjoin(
    left: DataFrame, small: DataFrame, by: list[str]
) -> DataFrame:
    """Broadcast-join ``small`` onto ``left`` null-safely on the group
    keys ``by`` (plain join conditions drop NULL group keys, which ARE
    groups to groupBy).  ``small``'s ``by`` columns are renamed to
    temporaries for the join and dropped after, so the output keeps
    exactly ``left``'s columns plus ``small``'s non-key columns.  With
    ``by == []`` this is a broadcast cross join (``small`` must then be
    a 1-row relation)."""
    if not by:
        return left.crossJoin(F.broadcast(small))
    gcols = [f"__g{i}" for i in range(len(by))]
    renamed = small.select(
        *[F.col(b).alias(g) for b, g in zip(by, gcols)],
        *[c for c in small.columns if c not in by],
    )
    cond = None
    for b, g in zip(by, gcols):
        c = F.col(b).eqNullSafe(F.col(g))
        cond = c if cond is None else (cond & c)
    return left.join(F.broadcast(renamed), cond).drop(*gcols)


_INF = float("inf")


def _sql_name(col: str) -> str:
    """``col`` as a quoted SQL identifier, for the ``F.expr`` forms of
    the higher-order columns below."""
    return "`" + col.replace("`", "``") + "`"


def _finite(vd: Column) -> Column:
    return ~F.isnan(vd) & (vd > F.lit(-_INF)) & (vd < F.lit(_INF))


def _bucket_expr(vd: Column, vmin: Column, vmax: Column, nb: int) -> Column:
    """Order-preserving bucket id (0 .. nb+3) for a double-cast value
    within per-group FINITE [vmin, vmax] bounds.  ``width_bucket`` is
    monotone non-decreasing in ``vd`` (all that correctness needs —
    bucket boundaries only affect load balance); a degenerate group
    (vmin == vmax, or no finite values at all) collapses its finite
    values to bucket 1.  Non-finite values get explicit buckets in
    Spark's double order (−Inf < finite < +Inf < NaN): −Inf → 0,
    +Inf → nb+2, NaN → nb+3 — ``width_bucket`` itself returns NULL
    for non-finite inputs, which would silently DROP those rows from
    the histogram/finish joins (review finding r13: a NaN/Inf mixed
    into a group also used to poison min/max and thereby drop the
    group's FINITE rows)."""
    wb = F.width_bucket(vd, vmin, vmax, F.lit(nb))
    return (
        F.when(F.isnan(vd), F.lit(nb + 3).cast("long"))
        .when(vd == F.lit(_INF), F.lit(nb + 2).cast("long"))
        .when(vd == F.lit(-_INF), F.lit(0).cast("long"))
        .otherwise(
            F.when(vmax > vmin, wb).otherwise(F.lit(1).cast("long"))
        )
    )


def _walk_to_rank(vals: str, off: str, target: str) -> Column:
    """Walk a sorted ``array<struct<__v, __c>>`` of distinct values and
    their counts: the first ``__v`` whose running count, seeded with
    ``off`` (the count of everything before the array), reaches the
    1-based rank ``target``; NULL when the array ends first.  The
    arguments are SQL expressions: one ``F.expr`` builds the column in
    one call, where a Python-lambda ``F.aggregate`` costs a Py4J round
    trip per sub-expression.  The found-flag scheme avoids needing
    ``__v``'s type for a NULL literal."""
    return F.expr(
        f"aggregate({vals},"
        f" named_struct('acc', {off}, 'key', try_element_at({vals}, 1).__v,"
        " 'found', false),"
        f" (st, x) -> CASE WHEN NOT st.found AND st.acc + x.__c >= {target}"
        " THEN named_struct('acc', st.acc + x.__c, 'key', x.__v, 'found', true)"
        " ELSE named_struct('acc', st.acc + x.__c, 'key', st.key,"
        " 'found', st.found) END,"
        " st -> CASE WHEN st.found THEN st.key END)"
    )


def select_values_at_ranks(
    rows: DataFrame,
    by: list[str],
    targets: DataFrame,
    bounds: DataFrame,
    *,
    num_buckets: int = DEFAULT_SELECT_BUCKETS,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Distributed exact order-statistic selection (count-then-select,
    guide §2/§5) over weighted rows ``rows`` = ``(by…, __v, __w)``
    (``__v`` non-null, ``__w`` a non-negative long weight — 1 for plain
    multiplicity): for each row of ``targets`` — ``(by…, __tid,
    __target, passthrough…)`` with ``__target`` a 1-based
    cumulative-weight rank — return the ``targets`` row with ``__key``
    appended: the smallest ``__v`` whose running weight sum in value
    order reaches ``__target``.  ``bounds`` = ``(by…, __vmin,
    __vmax)`` gives each group's FINITE double-cast value range (NaN
    and ±Inf must be excluded by the caller — non-finite values get
    their own order-correct buckets; both tiny relations are
    broadcast; ``passthrough`` lists the target columns to carry
    through — defaults to none).

    Plan shape — the part that matters at 100 TB: there is NO
    full-data exchange anywhere.  1) histogram — bucket weight per
    (group, bucket), a mergeable rollup whose map side emits ≤
    num_buckets+2 rows per task per group, collapsed to ONE bounded
    array row per group;  2) each target's bucket and the cumulative
    weight before it come from an ``aggregate`` HOF over that array —
    expression work, no shuffle;  3) finish — rows filtered to the few
    target buckets (a map-side drop of everything else), collapsed to
    distinct values within them, one sorted array per (group, bucket),
    walked by a second HOF.  ``rows`` is scanned three times (stats
    live in the caller, histogram, finish), each a thin partial
    aggregate; identical exchanges inside those scans are deduped at
    runtime by ReuseExchange, and none of them carries the data —
    unlike the holistic ``percentile``/window forms this replaces,
    which funnel every row of a group into one task."""
    by = list(by or [])
    passthrough = list(passthrough or [])
    vd = F.col("__v").cast("double")
    rows_b = _nullsafe_bjoin(rows, bounds, by).select(
        *by,
        "__v",
        "__w",
        _bucket_expr(vd, F.col("__vmin"), F.col("__vmax"), num_buckets).alias(
            "__b"
        ),
    )
    # 1) histogram: weight per (group, bucket) — mergeable, tiny
    # fan-in — then ONE bounded array row per group
    hist = (
        rows_b.groupBy(*by, "__b")
        .agg(F.sum("__w").alias("__bc"))
        .groupBy(*by)
        .agg(
            F.sort_array(F.collect_list(F.struct("__b", "__bc"))).alias(
                "__hist"
            )
        )
    )
    # 2) walk the histogram once per target: the bucket where the
    # running weight first reaches __target, and the weight before it
    rb = _nullsafe_bjoin(targets, hist, by).select(
        *by,
        "__tid",
        "__target",
        *passthrough,
        F.expr(
            "aggregate(__hist, named_struct('acc', CAST(0 AS BIGINT),"
            " 'b', CAST(NULL AS BIGINT), 'off', CAST(NULL AS BIGINT)),"
            " (st, x) -> CASE WHEN st.b IS NULL AND st.acc + x.__bc >= __target"
            " THEN named_struct('acc', st.acc + x.__bc, 'b', x.__b, 'off', st.acc)"
            " ELSE named_struct('acc', st.acc + x.__bc, 'b', st.b, 'off', st.off)"
            " END)"
        ).alias("__loc"),
    ).select(
        *by,
        "__tid",
        "__target",
        *passthrough,
        F.col("__loc.b").alias("__rb"),
        F.col("__loc.off").alias("__off"),
    )
    # 3) finish: inside the target buckets only — map-side filter,
    # collapse to distinct values, one sorted bounded array per bucket
    need = rb.select(*by, F.col("__rb").alias("__nb")).distinct()
    cand = (
        _nullsafe_bjoin(rows_b, need, by)
        .where(F.col("__b") == F.col("__nb"))
        .groupBy(*by, "__b", "__v")
        .agg(F.sum("__w").alias("__c"))
        .groupBy(*by, "__b")
        .agg(
            F.sort_array(F.collect_list(F.struct("__v", "__c"))).alias(
                "__vals"
            )
        )
    )
    # broadcast the tiny per-target locator onto the bucket arrays
    # (not the other way round: a bucket's value array is data-sized)
    sel = _nullsafe_bjoin(
        cand.withColumnRenamed("__b", "__cb"), rb, by
    ).where(F.col("__rb") == F.col("__cb"))
    return sel.select(
        *by,
        "__tid",
        "__target",
        *passthrough,
        _walk_to_rank("__vals", "__off", "__target").alias("__key"),
    )


def _bracket_sketch(vd: Column, probs: list[float], accuracy: int) -> Column:
    """The first pass's mergeable quantile sketch of the finite double
    values ``vd`` at ``probs`` (array<double> in ``probs`` order; NULL
    for a group without finite values).  Its rank error is at most
    n/``accuracy``; exact_grouped_percentiles verifies every bracket it
    derives from these values, so a wrong answer here can only make
    the query raise, never answer."""
    return F.percentile_approx(vd, probs, accuracy)


def exact_grouped_percentiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    *,
    by: list[str] | None = None,
    out_col: str = "__q",
    n_col: str | None = None,
    accuracy: int = BRACKET_ACCURACY,
) -> DataFrame:
    """Exact interpolated percentiles per group, BIT-IDENTICAL to
    ``F.percentile(value_col, array(probs))`` (same position formula
    ``p·(n−1)``, same floor/ceil neighbor ranks, same
    ``(hi−pos)·lo_key + (pos−lo)·hi_key`` double interpolation and the
    same two short-circuits), but computed in two distributed passes
    instead of Spark's HOLISTIC ``Percentile`` aggregate, which buffers
    every value of a group into the single merging task — the one plan
    shape that cannot survive a 100-TB group (r12 verdict #1).

    Output: one row per group with ``out_col`` = array<double> in
    ``probs`` order (plus ``n_col`` = the group's non-null value count
    when requested).  Groups whose values are all NULL are absent from
    the output (``F.percentile`` would emit a NULL array; no catalog
    gate feeds one); a global (``by=[]``) selection over an empty input
    yields one row of NULLs with ``n_col`` = 0.  Group cardinality must
    be broadcast-sized — the same contract as the approx path's
    broadcast bin edges.

    Pass 1 is ONE grouped aggregate over the non-null values: the
    count, the −Inf/finite/NaN counts, and ``percentile_approx`` of the
    finite values at p ± δ for every prob (δ = 2/``accuracy``).  Target
    ranks lo+1 and hi+1 that fall on a non-finite value are answered
    from the counts alone (Spark's double order: −Inf < finite < +Inf
    < NaN).  For a finite target the sketch's rank error n_f/A (n_f
    finite values, A = ``accuracy``) leaves at least one rank of slack
    on both sides, so the value bracket [sketch(p−δ), sketch(p+δ)]
    holds the target's exact order statistic.  A group with n_f < 2A,
    or with enough non-finite values to shift a target off the
    sketch's guaranteed range, has one bracket instead: all its finite
    values, shared by every prob.

    Pass 2 joins the rows to the broadcast brackets.  Each row adds to
    one count row per group (the exact count below each bracket) and
    to the (bracket, value) counts of the brackets that hold it; per
    group these collapse to the counts below plus one sorted array of
    distinct (bracket, value, count) candidates.  Each (group, prob)
    then walks its bracket's candidates to ranks lo+1 and hi+1
    (``_walk_to_rank``, shared with select_values_at_ranks).
    Membership compares in double space — the cast is monotone, so
    longs past 2^53 stay correct — while the walk returns the exact
    original value.  A target outside its bracket fails the query
    through ``raise_error``: the answer is exact or there is none.

    Cost shape: the rows are read twice (the pass-1 aggregate and the
    pass-2 join), each read a map-side-combined aggregate; no exchange
    carries the data.  A target's candidates are the whole group, at
    most 2A rows, for a small group and about 6·n_f/A distinct values
    otherwise.  With A = 10,000 (``BRACKET_ACCURACY``) that is n/1667,
    against n/4096 per bucket on the bucket path, which needed a
    census, a histogram and a locator pass before its finish (14 Spark
    jobs for a9_quantiles, now 6)."""
    by = list(by or [])
    rows = df.select(*by, F.col(value_col).alias("__v")).where(
        F.col("__v").isNotNull()
    )
    vd = F.col("__v").cast("double")
    fin = _finite(vd)
    delta = 2.0 / accuracy
    edges = [min(max(p - delta, 0.0), 1.0) for p in probs] + [
        min(max(p + delta, 0.0), 1.0) for p in probs
    ]
    stats = rows.groupBy(*by).agg(
        F.count("*").alias("__n"),
        F.count_if(vd == F.lit(-_INF)).alias("__nneg"),
        F.count_if(fin).alias("__nf"),
        F.count_if(F.isnan(vd)).alias("__nnan"),
        _bracket_sketch(F.when(fin, vd), edges, accuracy).alias("__sk"),
    )
    c = F.col
    k = len(probs)
    counts = ["__n", "__nneg", "__nf", "__nnan"]
    n, nneg, nf, nnan = (c(x) for x in counts)
    # A finite target r (1-based among the finite values) lies inside
    # its sketch bracket when |r − 1 − p·(n_f − 1)| ≤ n_f/A − 1.  With
    # m = n − n_f non-finite values that offset is below m + 1, so the
    # sketch brackets every target of a group with m ≤ n_f/A − 2 (which
    # implies n_f ≥ 2A).  Any other group has one whole-group bracket
    # (number 0) that serves every prob; its brackets 1.. are empty.
    sketched = (n - nf + 2) * accuracy <= nf
    whole = [(-_INF, _INF)] + [(_INF, -_INF)] * (k - 1)
    brackets = stats.select(
        *by,
        *counts,
        F.when(sketched, F.slice("__sk", 1, k))
        .otherwise(F.array(*[F.lit(lo) for lo, _ in whole]))
        .alias("__bl"),
        F.when(sketched, F.slice("__sk", k + 1, k))
        .otherwise(F.array(*[F.lit(hi) for _, hi in whole]))
        .alias("__bh"),
    )
    # pass 2: each row emits one count row (__j = −1, flagging the
    # brackets it lies below) plus one row per bracket that holds it.
    # Every row emits the count row, so every group reaches the walk,
    # and a bracket that misses raises instead of dropping the group.
    bl, bh, j = c("__bl"), c("__bh"), c("__j")
    cand = (
        _nullsafe_bjoin(rows, brackets, by)
        .select(
            *by,
            *counts,
            "__v",
            "__bl",
            F.explode(
                F.array(
                    F.lit(-1),
                    *[
                        F.when(fin & (vd >= bl[i]) & (vd <= bh[i]), F.lit(i))
                        for i in range(k)
                    ],
                )
            ).alias("__j"),
        )
        .where(j.isNotNull())
        .select(
            *by,
            *counts,
            "__j",
            F.when(j >= 0, c("__v")).alias("__k"),
            *[
                F.when(j < 0, (fin & (vd < bl[i])).cast("long")).alias(f"__b{i}")
                for i in range(k)
            ],
        )
        .groupBy(*by, *counts, "__j", "__k")
        .agg(
            F.count("*").alias("__c"),
            *[F.sum(f"__b{i}").alias(f"__b{i}") for i in range(k)],
        )
        # one row per group: the exact count below each bracket, and
        # the distinct (bracket, value, count) candidates sorted by
        # bracket then value.  Grouped by the group keys alone, so the
        # per-prob pivot below reuses this exchange's partitioning.
        .groupBy(*by)
        .agg(
            *[F.max(x).alias(x) for x in counts],
            F.array(
                *[
                    F.coalesce(F.sum(f"__b{i}"), F.lit(0).cast("long"))
                    for i in range(k)
                ]
            ).alias("__below"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        j >= 0, F.struct("__j", c("__k").alias("__v"), "__c")
                    )
                )
            ).alias("__cands"),
        )
        # a global selection over an empty input still yields this
        # grand-aggregate row, with no counts: it has no ranks to walk
        .where(n.isNotNull())
    )
    # one row per (group, prob): position p·(n−1), its floor/ceil
    # neighbor ranks lo/hi, and the prob's bracket (whole-group: 0)
    pi = c("__pi")
    tq = (
        cand.select(
            *by,
            *counts,
            "__below",
            "__cands",
            F.posexplode(F.array(*[F.lit(float(p)) for p in probs])).alias(
                "__pi", "__p"
            ),
        )
        .withColumn("__pos", c("__p") * (n - 1).cast("double"))
        .select(
            *by,
            *counts,
            "__pi",
            "__pos",
            F.floor("__pos").alias("__lo"),
            F.ceil("__pos").alias("__hi"),
            F.when(sketched, c("__below")[pi]).otherwise(c("__below")[0]).alias(
                "__off"
            ),
            F.when(sketched, F.expr("filter(__cands, x -> x.__j = __pi)"))
            .otherwise(c("__cands"))
            .alias("__vals"),
        )
    )

    # walk each prob's bracket to its two targets, as ranks among the
    # finite values (t − n_neg for rank t among all values)
    lo, hi, off = c("__lo"), c("__hi"), c("__off")
    walked = tq.select(
        *by,
        *counts,
        "__pi",
        "__pos",
        "__lo",
        "__hi",
        "__off",
        _walk_to_rank("__vals", "__off", "__lo + 1 - __nneg").alias("__wlo"),
        _walk_to_rank("__vals", "__off", "__hi + 1 - __nneg").alias("__whi"),
    )

    def _key(t: Column, w: Column) -> Column:
        # rank t among all values: −Inf < finite < +Inf < NaN; a finite
        # rank must lie inside its bracket
        r = t - nneg
        return (
            F.when(r <= 0, F.lit(-_INF))
            .when(r > n - nnan - nneg, F.lit(float("nan")))
            .when(r > nf, F.lit(_INF))
            .when((r > off) & w.isNotNull(), w.cast("double"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "exact_grouped_percentiles: a target rank fell "
                        "outside its quantile-sketch bracket"
                    )
                )
            )
        )

    def _walked(t: Column) -> Column:
        r = t - nneg
        return (r >= 1) & (r <= nf)

    keys = walked.select(
        *by,
        "__n",
        "__pi",
        "__pos",
        "__lo",
        "__hi",
        _key(lo + 1, c("__wlo")).alias("__klo"),
        _key(hi + 1, c("__whi")).alias("__khi"),
        # Percentile compares the neighbor keys themselves: two distinct
        # longs past 2^53 with one double still interpolate
        F.when(
            _walked(lo + 1) & _walked(hi + 1), c("__wlo") == c("__whi")
        ).alias("__same"),
    )
    # Percentile's interpolation verbatim
    klo, khi = c("__klo"), c("__khi")
    pos = c("__pos")
    val = (
        F.when(lo == hi, klo)
        .when(F.coalesce(c("__same"), klo == khi), klo)
        .otherwise(
            (hi.cast("double") - pos) * klo + (pos - lo.cast("double")) * khi
        )
    )
    agg_cols = [
        F.max(F.when(pi == i, c("__val"))).alias(f"__q{i}") for i in range(k)
    ]
    if n_col is not None:
        # coalesce to 0: a global (by=[]) selection over an EMPTY
        # input reaches no walk row, and the grand aggregate would
        # report NULL where count(*) reports 0 (review finding r13)
        agg_cols.append(
            F.coalesce(F.max("__n"), F.lit(0).cast("long")).alias(n_col)
        )
    return (
        keys.select(*by, "__n", "__pi", val.alias("__val"))
        .groupBy(*by)
        .agg(*agg_cols)
        .select(
            *by,
            F.array(*[c(f"__q{i}") for i in range(k)]).alias(out_col),
            *([n_col] if n_col is not None else []),
        )
    )


def quantile_agg(
    col: str | Column,
    probs: list[float],
    *,
    exact: bool = False,
    accuracy: int = DEFAULT_ACCURACY,
) -> Column:
    """Aggregate expression for the given quantiles of ``col``.

    ``exact=False`` (default, the at-scale path): ``approx_percentile``
    — a mergeable sketch, partial-aggregated map-side like any
    algebraic aggregate.  ``exact=True``: holistic ``percentile`` with
    the linear-interpolation definition DuckDB's ``quantile_cont``
    shares — gate-scale attestation only.  Returns an array column in
    ``probs`` order either way."""
    c = F.col(col) if isinstance(col, str) else col
    parr = F.array(*[F.lit(p) for p in probs])
    if exact:
        return F.percentile(c, parr)
    return F.percentile_approx(c, parr, F.lit(accuracy))


def grouped_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    *,
    by: list[str] | None = None,
    names: list[str] | None = None,
    scale: float = 1.0,
    exact: bool = False,
    accuracy: int = DEFAULT_ACCURACY,
) -> DataFrame:
    """Per-group quantiles of ``value_col`` → one row per group with
    one column per prob (``names`` or ``p50``-style defaults), each
    divided by ``scale`` and rounded to 6 dp (the catalog's cents
    convention)."""
    names = names or [f"p{int(p * 100)}" for p in probs]
    if exact:
        # two-pass sketch-bracketed selection (r12 verdict #1):
        # bit-identical to the holistic ``percentile`` but with no
        # single-task buffer of the whole group
        g = exact_grouped_percentiles(df, value_col, probs, by=by)
    else:
        q = quantile_agg(
            value_col, probs, exact=exact, accuracy=accuracy
        ).alias("__q")
        g = df.groupBy(*(by or [])).agg(q) if by else df.agg(q)
    return g.select(
        *(by or []),
        *[
            F.round(F.col("__q")[i] / scale, 6).alias(n)
            for i, n in enumerate(names)
        ],
    )


def winsorized_mean(
    df: DataFrame,
    value_col: str,
    *,
    by: list[str],
    lo: float = 0.01,
    hi: float = 0.99,
    exact: bool = False,
    accuracy: int = DEFAULT_ACCURACY,
) -> DataFrame:
    """Clip ``value_col`` (integer cents) at the GLOBAL [lo, hi]
    quantiles, then average per group → (by…, n, n_clip_lo, n_clip_hi,
    wins_mean).

    Plan shape: one threshold pass (sketch by default; holistic only
    under ``exact=True``) broadcast as a 1-row cross join into one
    grouped aggregate — two scans, one exchange, no fan-out.  Clipped
    values re-integerize (round to cents) so the group mean is an
    exact integer sum in both engines under ``exact=True``."""
    vals = df.select(*by, F.col(value_col).alias("v"))
    if exact:
        # distributed exact selection (r12 verdict #1) instead of the
        # holistic single-task percentile; same bits, see
        # exact_grouped_percentiles
        q = exact_grouped_percentiles(vals, "v", [lo, hi], by=[]).select(
            F.col("__q")[0].alias("lo"), F.col("__q")[1].alias("hi")
        )
    else:
        q = vals.agg(
            quantile_agg("v", [lo, hi], exact=exact, accuracy=accuracy).alias("q")
        ).select(F.col("q")[0].alias("lo"), F.col("q")[1].alias("hi"))
    j = vals.crossJoin(F.broadcast(q))
    vd = F.col("v").cast("double")
    clipped = F.round(F.least(F.greatest(vd, F.col("lo")), F.col("hi"))).cast("long")
    n = F.count("*")
    return j.groupBy(*by).agg(
        n.alias("n"),
        F.sum((vd < F.col("lo")).cast("long")).alias("n_clip_lo"),
        F.sum((vd > F.col("hi")).cast("long")).alias("n_clip_hi"),
        F.round(F.sum(clipped).cast("double") / 100.0 / n, 6).alias("wins_mean"),
    )


def equidepth_bins(
    df: DataFrame,
    value_col: str,
    *,
    k: int = 10,
    by: list[str] | None = None,
    tie_cols: list[str] | None = None,
    bin_col: str = "decile",
    exact: bool = False,
    accuracy: int = DEFAULT_ACCURACY,
) -> DataFrame:
    """Append an equi-depth bucket column (1..k) to ``df``.

    ``exact=False`` (default — the at-scale path): compute k-1
    approx-quantile bin EDGES per group (mergeable sketch → a tiny
    one-row-per-group edges relation), broadcast them back, and assign
    buckets with a map-only array count — no window, no total sort,
    no single-partition stage.  Bucket populations are equal to within
    sketch error; a value equal to an edge lands deterministically in
    the lower bucket.

    ``exact=True`` (gate-scale oracle attestation ONLY): ``ntile(k)``
    over the (value, *tie_cols) total order — bit-identical to a SQL
    oracle's ntile (both engines deal the first n mod k buckets one
    extra row), but each window partition is ONE task sorting its
    whole group; nothing on the 100-TB path may pass it.  The plan
    guard in tests/test_plan_shapes.py pins that the default path
    contains no window/ntile.

    The bucket column is int on both paths; callers cast to match
    their oracle (DuckDB ntile returns BIGINT).

    NULL handling: ``value_col`` is expected non-null (every catalog
    caller feeds a cleaned column).  The exact path orders
    ``asc_nulls_last`` so that if NULLs do appear they land in the TOP
    bucket exactly as DuckDB's default ``ORDER BY`` (NULLS LAST for
    ASC) deals them — Spark's bare ``asc`` is NULLS FIRST, which would
    silently bucket NULLs opposite the oracle.  The approx path drops
    NULLs from the sketch (``percentile_approx`` ignores them) and
    pins NULL rows to bucket ``k`` for the same nulls-last semantics.
    """
    from pyspark.sql import Window

    if exact:
        order = [
            F.asc_nulls_last(c) for c in [value_col, *(tie_cols or [])]
        ]
        w = (
            Window.partitionBy(*by).orderBy(*order)
            if by
            else Window.orderBy(*order)
        )
        return df.withColumn(bin_col, F.ntile(k).over(w))
    probs = [i / k for i in range(1, k)]
    agg = F.percentile_approx(
        F.col(value_col), F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
    ).alias("__edges")
    if by:
        edges = df.groupBy(*by).agg(agg)
        joined = df.join(F.broadcast(edges), by)
    else:
        joined = df.crossJoin(F.broadcast(df.groupBy().agg(agg)))
    v = F.col(value_col)
    return joined.withColumn(
        bin_col,
        F.when(v.isNull(), F.lit(k)).otherwise(
            F.expr(f"size(filter(__edges, e -> e < {_sql_name(value_col)})) + 1")
        ),
    ).drop("__edges")


def distribution_ranks(
    df: DataFrame,
    value_col: str,
    *,
    by: list[str] | None = None,
    tie_cols: list[str] | None = None,
    pct_col: str = "pct_rank",
    cume_col: str = "cume",
    exact: bool = False,
    resolution: int = 1_000,
    accuracy: int = DEFAULT_ACCURACY,
) -> DataFrame:
    """Append distribution-position columns — ``pct_col`` ≈
    ``percent_rank`` ((rank−1)/(n−1)) and ``cume_col`` ≈ ``cume_dist``
    (rows ≤ current / n) of ``value_col`` within each ``by`` group.

    ``exact=False`` (default — the at-scale path): estimate the
    per-group CDF once with a mergeable quantile sketch — ``resolution``
    +1 edges at probs 0, 1/m, …, 1 (``percentile_approx`` keeps exact
    min/max at the endpoints) plus the group count, a one-row-per-group
    relation broadcast back — then assign each row its interpolated CDF
    position MAP-ONLY: locate the straddling edge pair with an array
    scan and linearly interpolate inside it.  No window, no total sort,
    no single-task-per-hot-key stage; error is bounded by sketch rank
    error (≤ 1/accuracy) + interpolation width (≤ 1/resolution) + tie
    mass.  Both output columns carry the same CDF estimate (the exact
    definitions differ by strict-vs-nonstrict comparison and n−1 vs n —
    O(ties + 1/n), inside the sketch error), except ``cume_col`` is
    floored at 1/n (cume_dist's exact lower bound).

    ``exact=True`` (gate-scale oracle attestation ONLY): the real
    ``percent_rank``/``cume_dist`` window over the (value, *tie_cols)
    ``asc_nulls_last`` total order — bit-identical to a SQL oracle
    (DuckDB ASC is NULLS LAST), but each window partition is ONE task
    sorting its whole group; nothing on the 100-TB path may pass it
    (plan guard in tests/test_plan_shapes.py).

    NULL handling: ``value_col`` is expected non-null; if NULLs appear
    the exact path ranks them last (nulls-last order) and the approx
    path pins them to CDF 1.0 for the same semantics.

    This is the w8/w11 straggler-class fix (VERDICT r6 "What's wrong"
    #2): percent_rank over a fact partitioned by a handful of enum
    keys is a single-task sort of ~the whole corpus per key.
    """
    from pyspark.sql import Window

    if exact:
        order = [
            F.asc_nulls_last(c) for c in [value_col, *(tie_cols or [])]
        ]
        w = (
            Window.partitionBy(*by).orderBy(*order)
            if by
            else Window.orderBy(*order)
        )
        return df.withColumn(pct_col, F.percent_rank().over(w)).withColumn(
            cume_col, F.cume_dist().over(w)
        )

    m = resolution
    probs = [i / m for i in range(0, m + 1)]
    agg = [
        F.percentile_approx(
            F.col(value_col), F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
        ).alias("__edges"),
        F.count(F.col(value_col)).alias("__n"),
    ]
    if by:
        sketch = df.groupBy(*by).agg(*agg)
        joined = df.join(F.broadcast(sketch), by)
    else:
        joined = df.crossJoin(F.broadcast(df.groupBy().agg(*agg)))

    v = F.col(value_col).cast("double")
    edges = F.expr("transform(__edges, e -> CAST(e AS DOUBLE))")
    # 0-based index of the edge interval [e_j, e_{j+1}) containing v:
    # count of edges <= v, minus one, clamped into [0, m-1].
    below = F.expr(
        "size(filter(__edges, e -> CAST(e AS DOUBLE)"
        f" <= CAST({_sql_name(value_col)} AS DOUBLE)))"
    )
    j = F.greatest(F.lit(0), F.least(F.lit(m - 1), below - F.lit(1)))
    e_lo = F.element_at(edges, j + F.lit(1))
    e_hi = F.element_at(edges, j + F.lit(2))
    frac = F.when(e_hi > e_lo, (v - e_lo) / (e_hi - e_lo)).otherwise(F.lit(0.5))
    cdf = F.least(
        F.lit(1.0),
        F.greatest(F.lit(0.0), (j.cast("double") + frac) / F.lit(float(m))),
    )
    cdf = F.when(F.col(value_col).isNull(), F.lit(1.0)).otherwise(cdf)
    return (
        joined.withColumn(pct_col, cdf)
        .withColumn(
            cume_col,
            F.greatest(F.col(pct_col), F.lit(1.0) / F.col("__n").cast("double")),
        )
        .drop("__edges", "__n")
    )
