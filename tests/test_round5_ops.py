"""Property and unit tests for the round-5 operators: the
deletion-variant edit-1 join, directed containment pairs, OHLC
aggregation determinism, and compaction bin invariants.
"""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _lev1(a: str, b: str) -> bool:
    """Naive edit-distance ≤ 1 check."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # insertion: b drops one char to equal a
    return any(b[:i] + b[i + 1 :] == a for i in range(lb))


words_strategy = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=5),
    min_size=0,
    max_size=12,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=words_strategy)
def test_edit1_join_matches_bruteforce(spark, words):
    from curw_mike_data_handler_spark.operators.fuzzyjoin import edit1_self_join

    distinct = sorted({w for w in words if w})
    df = spark.createDataFrame(
        [(w,) for w in distinct] or [(None,)], "word string"
    )
    got = {
        (r["word_a"], r["word_b"])
        for r in edit1_self_join(df, "word").collect()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(distinct, 2)
        if _lev1(a, b)
    }
    assert got == want


def test_edit1_join_max_bucket_preserves_covered_pairs(spark):
    """A hot-bucket cap only loses pairs whose EVERY shared variant
    bucket is over the cap; pairs covered by another bucket survive.
    On this fixture no pair depends solely on an over-cap bucket, so
    output is identical to uncapped."""
    from curw_mike_data_handler_spark.operators.fuzzyjoin import edit1_self_join

    words = ["cold", "old", "bold", "colt", "red", "rod"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    uncapped = {
        tuple(r) for r in edit1_self_join(df, "word").select("word_a", "word_b").collect()
    }
    capped = {
        tuple(r)
        for r in edit1_self_join(df, "word", max_bucket=3)
        .select("word_a", "word_b")
        .collect()
    }
    assert capped == uncapped
    # and a degenerate cap of 1 kills candidate generation entirely
    none = edit1_self_join(df, "word", max_bucket=1).count()
    assert none == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=6),
        min_size=0,
        max_size=6,
    )
)
def test_containment_pairs_match_bruteforce(spark, docs):
    from curw_mike_data_handler_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows or [(None, None)], "doc_id long, text string")
    got = {
        (r["doc_src"], r["doc_dst"]): r["containment"]
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(docs)}
    want = {}
    for a, b in itertools.permutations(sets, 2):
        inter = len(sets[a] & sets[b])
        if inter:
            c = round(inter / len(sets[a]), 6)
            if c >= 0.5:
                want[(a, b)] = c
    assert got == want


def test_containment_subset_doc_scores_one(spark):
    from curw_mike_data_handler_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    rows = {(r["doc_src"], r["doc_dst"]): r["containment"]
            for r in containment_pairs(df, threshold=0.0).collect()}
    assert rows[(1, 2)] == 1.0          # doc 1 fully inside doc 2
    assert rows[(2, 1)] == round(2 / 6, 6)


def test_ohlc_min_by_deterministic_under_ts_ties(spark):
    """Two events in the same microsecond: the [epoch, id] composite
    key must break the tie by event_id, not hash order."""
    from datetime import datetime

    t = datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(2, t, 20.0), (1, t, 10.0), (3, t, 30.0)],
        "event_id long, ts timestamp, value double",
    )
    key = F.array(F.unix_micros("ts"), F.col("event_id"))
    row = df.agg(
        F.min_by("value", key).alias("open"),
        F.max_by("value", key).alias("close"),
    ).collect()[0]
    assert row["open"] == 10.0 and row["close"] == 30.0


def test_compaction_bins_invariants(spark):
    """Greedy packing invariants on the real fixture: bins within a
    source are contiguous from 0, and every bin except the last holds
    at least the target before its last doc was added (i.e. a bin
    only opens because the prior one crossed the target)."""
    from curw_mike_data_handler_spark.catalog import QUERIES

    rows = QUERIES["compaction_bins"](spark, "/root/testdata/sf0.001").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, bins in by_src.items():
        idx = sorted(b["bin"] for b in bins)
        assert idx == list(range(len(idx))), f"{src}: non-contiguous bins {idx}"
        assert all(b["n_docs"] > 0 for b in bins)


def test_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "s1,2020-05-22 00:00:00,1.5\n"
        "oops,this,is,not,parseable,extra,cols\n"
        "s2,2020-05-22 00:15:00,notanumber\n"
        "s3,2020-05-22 00:30:00,2.5\n"
    )
    from curw_mike_data_handler_spark.sources.csv_io import read_csv_with_quarantine

    good, bad = read_csv_with_quarantine(
        spark, str(p), "tms_id string, time timestamp, value double"
    )
    good_rows = {(r["tms_id"], r["value"]) for r in good.collect()}
    bad_rows = [r["raw_line"] for r in bad.collect()]
    assert good_rows == {("s1", 1.5), ("s3", 2.5)}
    assert len(bad_rows) == 2
    assert any("notanumber" in b for b in bad_rows)
    assert any("oops" in b for b in bad_rows)


def test_observe_metrics_ride_the_write_action(spark, tmp_path):
    """with_ingest_metrics: counts/min/max/watermark are collected as
    a side effect of the ONE materializing action — the reference's
    post-write SELECT-back audit without a second scan."""
    from datetime import datetime

    from curw_mike_data_handler_spark.sources.observe import with_ingest_metrics

    rows = [
        ("s1", datetime(2020, 5, 22, 0, 0), 1.5),
        ("s1", datetime(2020, 5, 22, 0, 15), -2.0),
        ("s2", datetime(2020, 5, 22, 0, 30), None),
        ("s2", datetime(2020, 5, 22, 1, 0), 4.0),
    ]
    df = spark.createDataFrame(rows, "tms_id string, time timestamp, value double")
    out, obs = with_ingest_metrics(df, value_col="value", time_col="time")
    out.write.mode("overwrite").parquet(str(tmp_path / "sink"))
    got = obs.get
    assert got["n_rows"] == 4
    assert got["n_null_value"] == 1
    assert got["n_negative_value"] == 1
    assert got["min_value"] == -2.0 and got["max_value"] == 4.0
    assert str(got["max_time"]) == "2020-05-22 01:00:00"


# -- OPQ rotated product quantization (post-drain roadmap #1) ---------


def _seq_rotate(rows, v):
    """Reference rotation with an explicitly SEQUENTIAL fold (numpy's
    pairwise-summed dot is NOT the parity contract — Spark's
    F.aggregate and DuckDB's list_dot_product both fold left)."""
    out = []
    for r in rows:
        acc = 0.0
        for a, b in zip(v, r):
            acc += a * b
        out.append(0.125 * acc)
    return out


def _seq_gain_shape(rv, m=8, sub=8):
    import math

    out = []
    for s in range(m):
        acc = 0.0
        for x in rv[s * sub : (s + 1) * sub]:
            acc += abs(x)
        g = math.floor((acc / sub) * 16.0 + 0.5) / 16.0
        out.extend(g * (1.0 if x >= 0 else -1.0) for x in rv[s * sub : (s + 1) * sub])
    return out


def test_opq_rotation_orthonormal_and_bit_exact(spark):
    import numpy as np

    from curw_mike_data_handler_spark.operators.similarity import (
        opq_rotate,
        opq_signed_rows,
        pq_gain_shape_reconstruct,
    )

    rows = opq_signed_rows()
    M = np.array(rows) / 8.0
    # genuine rotation: orthonormal, so norms (hence cosines) survive
    assert np.allclose(M @ M.T, np.eye(64), atol=1e-12)

    # bit-exactness of the Spark expression against the sequential fold
    vecs = [
        [float((i * 37 + j * j) % 101) / 101.0 - 0.33 for j in range(64)]
        for i in range(7)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, embedding array<double>"
    )
    got = {
        r["id"]: r["rv"]
        for r in df.select(
            "id", opq_rotate(F.col("embedding"), rows).alias("rv")
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == _seq_rotate(rows, v)  # == on floats: bit-exact

    # reconstruction: bit-exact vs reference, gains on the 1/16 grid
    rec = {
        r["id"]: r["rec"]
        for r in df.select(
            "id",
            pq_gain_shape_reconstruct(
                opq_rotate(F.col("embedding"), rows)
            ).alias("rec"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        ref = _seq_gain_shape(_seq_rotate(rows, v))
        assert rec[i] == ref
        assert all(abs(x) * 16 == round(abs(x) * 16) for x in ref)


def test_opq_rotation_lifts_recall(spark, sf001_dir):
    """The HD rotation's reason to exist: spreading energy across
    coordinates before the closed-form gain-shape codebook lifts
    recall@5 vs quantizing the RAW embedding (the ITQ/Fast-JL
    argument).  Ground truth and the unrotated strawman are computed
    in numpy; the rotated path is the REAL catalog query through
    Spark, so this also exercises the operator end to end."""
    import numpy as np
    import pandas as pd

    from curw_mike_data_handler_spark import catalog
    from curw_mike_data_handler_spark.operators.similarity import opq_signed_rows

    emb = pd.read_parquet(f"{sf001_dir}/embeddings.parquet")
    V = np.array([np.asarray(e, dtype=np.float64) for e in emb.embedding])
    ids, labels = emb.vec_id.values, emb.label.values

    def topk(Q, C, k=5):
        res = {}
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        for qi in np.where(ids % 100 == 0)[0]:
            mask = (labels == labels[qi]) & (ids != ids[qi])
            sims = Cn[mask] @ Qn[qi]
            cand = ids[mask]
            order = np.lexsort((cand, -np.round(sims, 6)))
            res[ids[qi]] = set(cand[order[:k]])
        return res

    def gain_shape(X):
        out = np.empty_like(X)
        for s in range(8):
            sub = X[:, s * 8 : (s + 1) * 8]
            g = np.floor((np.abs(sub).sum(axis=1) / 8.0) * 16.0 + 0.5) / 16.0
            out[:, s * 8 : (s + 1) * 8] = g[:, None] * np.where(sub >= 0, 1.0, -1.0)
        return out

    exact = topk(V, V)
    raw_q = topk(V, gain_shape(V))
    spark_rows = catalog.QUERIES["ann_topk_opq"](spark, sf001_dir).collect()
    opq_q: dict[int, set] = {}
    for r in spark_rows:
        opq_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(approx):
        return sum(len(exact[q] & approx[q]) for q in exact) / (5 * len(exact))

    r_opq, r_raw = recall(opq_q), recall(raw_q)
    # deterministic data + seed: sf0.01 measures 0.64 vs 0.56
    assert r_opq >= r_raw
    assert r_opq >= 0.6


# -- exact heavy hitters via Misra-Gries candidates -------------------


def test_misra_gries_fold_invariants():
    """The counter dict never exceeds k entries and never undercounts
    by more than the total decrement bound n/k (the MG guarantee the
    candidate-completeness argument rests on)."""
    import random

    from curw_mike_data_handler_spark.operators.heavyhitters import (
        misra_gries_fold,
    )

    rng = random.Random(11)
    for _ in range(50):
        k = rng.randint(2, 16)
        n = rng.randint(1, 2000)
        stream = [rng.randint(0, rng.randint(1, 40)) for _ in range(n)]
        counters: dict = {}
        # fold in random batch sizes (the Arrow-batch shape)
        i = 0
        while i < n:
            j = min(n, i + rng.randint(1, 64))
            from collections import Counter

            for key, c in Counter(stream[i:j]).items():
                misra_gries_fold(counters, key, c, k)
            i = j
        assert len(counters) <= k
        from collections import Counter

        true = Counter(stream)
        for key, cnt in counters.items():
            assert cnt <= true[key]
        for key, cnt in true.items():
            got = counters.get(key, 0)
            assert got >= cnt - n / k - 1e-9, (key, cnt, got, n, k)
        # completeness: every key above n/k must be present
        for key, cnt in true.items():
            if cnt > n / k:
                assert key in counters, (key, cnt, n, k)


def test_heavy_hitters_exact_matches_groupby(spark):
    """End-to-end: the two-pass operator returns exactly the keys a
    plain GROUP BY/HAVING keeps, with exact counts, independent of
    partitioning (MG summaries differ per split; the verification
    pass erases that)."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )

    df = spark.range(20_000).select(
        # 50% of rows over 5 hot keys (10% each, above the 1/16
        # threshold); the rest spread over ~3000 cold keys
        F.when(F.col("id") % 2 == 0, (F.col("id") % 5).cast("string"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 3000).cast("string")))
        .alias("k")
    )
    expected = {
        (r["k"], r["c"])
        for r in df.groupBy("k").agg(F.count("*").alias("c"))
        .crossJoin(df.agg(F.count("*").alias("n")))
        .filter(F.col("c") > F.col("n") / 16.0)
        .select("k", "c").collect()
    }
    assert expected, "threshold must keep a nonempty hot set"
    for parts in (3, 17):
        got = {
            (r["key"], r["n_occurrences"])
            for r in heavy_hitters_exact(
                df.repartition(parts), "k", k=16
            ).collect()
        }
        assert got == expected, parts

    # guarantee guard: a threshold below 1/k must be rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="MG guarantee"):
        heavy_hitters_exact(df, "k", k=16, threshold_ratio=0.01)
