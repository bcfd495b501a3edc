"""Property tests: the composite operators (as-of join, range join,
connected components, IVF chain) against brute-force Python references
on randomized small instances.  Hypothesis drives the instance shapes;
the Spark implementations must agree with the naive semantics on every
draw — ties, empty groups, boundary instants included.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE = datetime(2020, 5, 22)


def _ts(minutes: int) -> datetime:
    return BASE + timedelta(minutes=minutes)


small_minutes = st.integers(min_value=0, max_value=120)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["k1", "k2"]), small_minutes),
        min_size=1,
        max_size=8,
    ),
    rights=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            small_minutes,
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=8,
    ),
)
def test_asof_join_matches_naive(spark, lefts, rights):
    from curw_mike_data_handler_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, _ts(m)) for k, m in lefts], "key string, time timestamp"
    )
    right = spark.createDataFrame(
        [(k, _ts(m), float(v)) for k, m, v in rights],
        "key string, time timestamp, value double",
    )
    got = {
        (r["key"], r["time"]): r["asof_value"]
        for r in asof_join(
            left, right, on="time", by="key", value_cols=["value"]
        ).collect()
    }

    # naive: max value among same-instant right rows, latest instant <= t
    for k, m in set(lefts):
        t = _ts(m)
        cands = [(rm, rv) for rk, rm, rv in rights if rk == k and _ts(rm) <= t]
        want = None
        if cands:
            best = max(rm for rm, _ in cands)
            want = float(max(rv for rm, rv in cands if rm == best))
        assert got[(k, t)] == want, (k, t, got[(k, t)], want)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(small_minutes, min_size=1, max_size=10),
    intervals=st.lists(
        st.tuples(small_minutes, st.integers(min_value=0, max_value=90)),
        min_size=0,
        max_size=6,
    ),
)
def test_range_join_matches_naive(spark, points, intervals):
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.rangejoin import (
        range_join_points_in_intervals,
    )

    pts = spark.createDataFrame(
        [(i, _ts(m)) for i, m in enumerate(points)], "pid long, t timestamp"
    )
    iv = spark.createDataFrame(
        [(j, _ts(s), _ts(s + d)) for j, (s, d) in enumerate(intervals)],
        "iid long, start timestamp, end timestamp",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_points_in_intervals(
            pts, iv, point_time="t", start_col="start", end_col="end",
            bucket_seconds=900,
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, m in enumerate(points)
        for j, (s, d) in enumerate(intervals)
        if s <= m <= s + d
    )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_connected_components_matches_naive(spark, edges):
    from curw_mike_data_handler_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }

    # naive union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_groups = {}
    for n in parent:
        want_groups.setdefault(find(n), set()).add(n)
    for root, members in want_groups.items():
        label = min(members)
        for n in members:
            assert got[n] == label, (n, got[n], label)


def test_ivf_chain_end_to_end(spark):
    """kmeans_assign output feeds ann_topk_bucketed directly — the full
    IVF path: quantize → block → rank; every query's neighbors share
    its cluster."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.similarity import (
        ann_topk_bucketed,
        kmeans_assign,
    )
    from curw_mike_data_handler_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assign = kmeans_assign(emb, k=4, iterations=2)
    bucketed = emb.join(
        assign.withColumnRenamed("id", "vec_id"), "vec_id"
    ).withColumnRenamed("cluster", "ivf")
    queries = bucketed.filter(F.col("vec_id") % 20 == 0)
    top = ann_topk_bucketed(queries, bucketed, k=3, bucket_col="ivf")
    rows = top.collect()
    assert rows, "IVF chain must produce neighbors"
    clusters = {r["vec_id"]: r["ivf"] for r in bucketed.collect()}
    for r in rows:
        assert clusters[r["query_id"]] == clusters[r["neighbor_id"]]


def test_jaccard_df_cap_noop_when_under_cap_and_correct_when_over(spark):
    """The document-frequency skew guard: with every token's df under
    the cap the capped plan returns EXACTLY the uncapped result; with a
    stop-word-grade token over the cap, the result equals the naive
    Jaccard computed on the capped token sets."""
    from itertools import combinations

    from curw_mike_data_handler_spark.operators.dedup import jaccard_pairs

    corpus = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "alpha zeta eta theta"),
        (4, "alpha beta gamma delta"),
        (5, "iota kappa lambda alpha"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")

    def naive(max_df):
        toks = {i: set(t.split()) for i, t in corpus}
        if max_df is not None:
            df = {}
            for s in toks.values():
                for tok in s:
                    df[tok] = df.get(tok, 0) + 1
            toks = {i: {t for t in s if df[t] <= max_df} for i, s in toks.items()}
        out = set()
        for a, b in combinations(sorted(toks), 2):
            union = toks[a] | toks[b]
            if not union:
                continue
            j = len(toks[a] & toks[b]) / len(union)
            if round(j, 6) >= 0.5:
                out.add((a, b, round(j, 6)))
        return out

    def run(max_df):
        return {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in jaccard_pairs(docs, threshold=0.5, max_df=max_df).collect()
        }

    uncapped = run(None)
    assert uncapped == naive(None)
    # 'alpha' has df=5; cap=5 keeps everything -> identical output
    assert run(5) == uncapped
    # cap=4 drops 'alpha' everywhere -> matches naive on capped sets
    assert run(4) == naive(4)


@settings(max_examples=40, deadline=None)
@given(w=st.integers(1, 80), h=st.integers(1, 60))
def test_png_pixel_roundtrip_property(w, h):
    """Any (w,h): encode → inflate → unfilter recovers the closed-form
    raster sum and count exactly (no Spark needed — the codec is pure
    Python; the Spark path is covered by the catalog oracle)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_png_pixels,
        make_png,
    )

    st_ = decode_png_pixels(make_png(w, h, pixels=True))
    sx = 120 * (w // 16) + (w % 16) * ((w % 16) - 1) // 2
    sy = 120 * (h // 16) + (h % 16) * ((h % 16) - 1) // 2
    assert st_["n_px"] == w * h
    assert st_["pixel_sum"] == 24 * h * sx + 3 * w * sy + 9 * w * h
    assert st_["pixel_max"] == 8 * (min(w, 16) - 1) + (min(h, 16) - 1) + 6


@settings(max_examples=40, deadline=None)
@given(n=st.integers(0, 200), c=st.integers(1, 4), sr=st.integers(1, 96000))
def test_wav_pcm_roundtrip_property(n, c, sr):
    from curw_mike_data_handler_spark.operators.multimodal import (
        _wav_sample_value,
        decode_wav_samples,
        make_wav,
    )

    st_ = decode_wav_samples(make_wav(sr, c, 16, n))
    vals = [_wav_sample_value(i, ch) for i in range(n) for ch in range(c)]
    assert st_["channels"] == c and st_["n_frames"] == n
    assert st_["sample_sum"] == sum(vals)
    assert st_["sample_max"] == (max(vals) if vals else None)


def test_two_phase_components_match_label_prop(spark):
    """The large-star/small-star contraction must produce exactly the
    label-propagation partition (component = min reachable id) — on a
    random multi-component graph AND on a path graph whose diameter
    exceeds the round budget (where per-round propagation can't finish
    but the O(log²) contraction does)."""
    import random

    from curw_mike_data_handler_spark.operators.dedup import connected_components

    rng = random.Random(11)
    nodes = list(range(1, 61))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")

    def run(alg, max_iter=50):
        return {
            r["node"]: (r["component"], r["component_size"])
            for r in connected_components(
                df, max_iter=max_iter, algorithm=alg
            ).collect()
        }

    assert run("two_phase") == run("label_prop")

    # path 1-2-…-40: diameter 39.  label_prop@10 rounds CANNOT have
    # converged; two_phase@10 must be fully contracted to component 1.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            path, max_iter=10, algorithm="two_phase"
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 41)}


def test_lsh_bucket_cap_noop_under_cap_and_tames_hot_bucket(spark):
    """The band-bucket skew guard (VERDICT r4 #2): with every bucket
    under the cap the capped plan returns EXACTLY the uncapped pair
    set; a degenerate bucket (many identical boilerplate docs sharing
    every band) stops contributing its d² candidates once capped,
    while pairs reachable through other, small bands survive."""
    from curw_mike_data_handler_spark.operators.dedup import minhash_lsh_pairs

    # two genuine near-dup docs + 40 identical boilerplate docs
    near_a = (1, "quick brown fox jumps over the lazy dog tonight")
    near_b = (2, "quick brown fox jumps over the lazy dog today")
    boiler = [(100 + i, "lorem ipsum dolor sit amet") for i in range(40)]
    docs = spark.createDataFrame(
        [near_a, near_b, *boiler], "doc_id bigint, text string"
    )

    def run(max_bucket):
        return {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(
                docs, threshold=0.5, max_bucket=max_bucket
            ).collect()
        }

    uncapped = run(None)
    assert (1, 2) in uncapped
    # every boilerplate doc pairs with every other through its band
    # buckets: the d² blow-up the cap exists to stop
    n_boiler_pairs = 40 * 39 // 2
    assert len(uncapped) == n_boiler_pairs + 1
    # cap above the largest bucket (40 members) -> identical output
    assert run(40) == uncapped
    # cap below the hot bucket: its d² candidates vanish; the genuine
    # near-dup pair still arrives through its own (size-2) buckets
    capped = run(10)
    assert capped == {(1, 2)}


def test_chunk_documents_edges_and_coverage(spark):
    """Chunking contract: empty doc → no chunks; short doc → one
    full-coverage chunk; boundary cases produce the closed-form chunk
    count; consecutive chunks overlap by exactly `overlap` tokens and
    every token appears in at least one chunk."""
    from curw_mike_data_handler_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "one two three"),
            (2, " ".join(f"t{i}" for i in range(48))),   # == stride
            (3, " ".join(f"t{i}" for i in range(49))),   # stride + 1
            (4, " ".join(f"t{i}" for i in range(200))),  # several chunks
        ],
        "doc_id bigint, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 not in by_doc
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "one two three"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_len"] == 48
    assert len(by_doc[3]) == 2  # floor(48/48)+1
    assert len(by_doc[4]) == 5  # floor(199/48)+1
    for doc_id, n_tok in ((3, 49), (4, 200)):
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_no"])
        covered = set()
        prev_tokens = None
        for r in chunks:
            toks = r["chunk_text"].split()
            assert len(toks) == r["chunk_len"]
            span = range(r["tok_start"], r["tok_start"] + r["chunk_len"])
            if prev_tokens is not None and len(prev_tokens) == 64:
                assert prev_tokens[-16:] == toks[:16], "overlap mismatch"
            covered.update(span)
            prev_tokens = toks
        assert covered == set(range(1, n_tok + 1)), f"doc {doc_id} not fully covered"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=32, overlap=32)


@settings(max_examples=200, deadline=None)
@given(payload=st.binary(max_size=200))
def test_media_parser_never_raises_on_arbitrary_bytes(payload):
    """decode robustness contract: one corrupt blob must not kill a
    100 TB batch — any byte string parses to a schema-conformant dict."""
    from curw_mike_data_handler_spark.operators.multimodal import parse_media_header

    meta = parse_media_header(payload)
    assert set(meta) == {"media_type", "width", "height",
                         "sample_rate", "channels", "bit_depth"}
    assert meta["media_type"] in {"unknown", "image/png", "image/jpeg", "audio/wav"}
    for k in ("width", "height", "sample_rate", "channels", "bit_depth"):
        assert meta[k] is None or isinstance(meta[k], int)


@settings(max_examples=200, deadline=None)
@given(
    prefix=st.sampled_from([b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF"]),
    junk=st.binary(max_size=64),
)
def test_media_parser_never_raises_on_truncated_headers(prefix, junk):
    from curw_mike_data_handler_spark.operators.multimodal import parse_media_header

    meta = parse_media_header(prefix + junk)
    assert meta["media_type"] in {"unknown", "image/png", "image/jpeg", "audio/wav"}


def test_salted_neardup_pairs_identical_to_unsalted(spark):
    """The skew-salting option must be output-invariant: replicating
    the right side across salt keys changes the shuffle layout, never
    the pair set."""
    from curw_mike_data_handler_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from curw_mike_data_handler_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def pairs(salt):
        return {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in embedding_neardup_pairs(
                emb, threshold=0.35, bucket_col="label", salt_buckets=salt
            ).collect()
        }

    base = pairs(0)
    assert base, "fixture must produce near-dup pairs"
    assert pairs(4) == base


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=1,
            max_size=10,
        ),
        min_size=1,
        max_size=8,
    ),
    chunk=st.integers(min_value=1, max_value=4),
    max_df=st.integers(min_value=1, max_value=3),
)
def test_line_level_dedup_matches_naive(spark, docs, chunk, max_df):
    """line_level_dedup against the obvious single-machine semantics:
    chunk each word list, count distinct-doc frequency per exact chunk
    text, drop over-frequent chunks, reassemble in order."""
    from curw_mike_data_handler_spark.operators.dedup import line_level_dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]

    # naive reference
    chunked = {}
    for i, ws in enumerate(docs):
        chunked[i] = [
            " ".join(ws[j : j + chunk]) for j in range(0, len(ws), chunk)
        ]
    dfreq = {}
    for i, lines in chunked.items():
        for line in set(lines):
            dfreq[line] = dfreq.get(line, 0) + 1
    expect = {}
    for i, lines in chunked.items():
        kept = [l for l in lines if dfreq[l] <= max_df]
        expect[i] = (len(kept), len(lines) - len(kept), " ".join(kept))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["n_dropped"], r["cleaned_text"])
        for r in line_level_dedup(
            df, chunk_words=chunk, max_doc_freq=max_df
        ).collect()
    }
    assert got == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.tuples(
            small_minutes,
            st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
        ),
        min_size=2,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
)
def test_linear_interpolation_matches_naive(spark, series):
    """Interior-gap time-weighted interpolation against a brute-force
    reference on arbitrary gap patterns: every NULL bracketed by
    observations gets prev + (next-prev)·(t-pt)/(nt-pt); leading and
    trailing NULLs stay out (pandas interior-only default)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [("k", i, _ts(m), None if v is None else float(v))
            for i, (m, v) in enumerate(sorted(series))]
    df = spark.createDataFrame(rows, "k string, idx long, t timestamp, v double")

    wp = Window.partitionBy("k").orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wn = Window.partitionBy("k").orderBy("t").rowsBetween(1, Window.unboundedFollowing)
    t_if = F.when(F.col("v").isNotNull(), F.unix_micros("t"))
    out = (
        df.select(
            "idx", "v", F.unix_micros("t").alias("tm"),
            F.last("v", ignorenulls=True).over(wp).alias("pv"),
            F.last(t_if, ignorenulls=True).over(wp).alias("pt"),
            F.first("v", ignorenulls=True).over(wn).alias("nv"),
            F.first(t_if, ignorenulls=True).over(wn).alias("nt"),
        )
        .filter(F.col("v").isNull() & F.col("pv").isNotNull() & F.col("nv").isNotNull())
        .select(
            "idx",
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * ((F.col("tm") - F.col("pt")) / (F.col("nt") - F.col("pt")))
            ).alias("interp"),
        )
    )
    got = {r["idx"]: r["interp"] for r in out.collect()}

    # brute-force reference
    pts = sorted((m, v) for m, v in series)
    want = {}
    for i, (m, v) in enumerate(pts):
        if v is not None:
            continue
        prev = next(((pm, pv) for pm, pv in reversed(pts[:i]) if pv is not None), None)
        nxt = next(((nm, nv) for nm, nv in pts[i + 1:] if nv is not None), None)
        if prev and nxt:
            want[i] = prev[1] + (nxt[1] - prev[1]) * (m - prev[0]) / (nxt[0] - prev[0])
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=-10000, max_value=10000), min_size=1, max_size=40
    ),
)
def test_ewma_truncation_bias_is_bounded(spark, values):
    """The 16-term truncated EWMA must track the exact untruncated
    recursion within the analytic tail bound: |truncated − exact| ≤
    (1−α)^16 · max|v| (the discarded geometric tail), on arbitrary
    series."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    alpha, K = 0.25, 16
    w16 = [(1 - alpha) ** k for k in range(K)]
    rows = [("k", i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k string, i long, v double")
    w = Window.partitionBy("k").orderBy("i")
    lags = [F.lag("v", k).over(w) for k in range(K)]
    num = lags[0] * F.lit(w16[0])
    den = F.when(lags[0].isNotNull(), F.lit(w16[0])).otherwise(F.lit(0.0))
    for k in range(1, K):
        num = num + F.coalesce(lags[k], F.lit(0.0)) * F.lit(w16[k])
        den = den + F.when(lags[k].isNotNull(), F.lit(w16[k])).otherwise(F.lit(0.0))
    got = {r["i"]: r["e"] for r in df.select("i", (num / den).alias("e")).collect()}

    vmax = max(abs(v) for v in values)
    bound = (1 - alpha) ** K * vmax + 1e-9
    # exact EWMA: normalized finite-history form (pandas adjust=True)
    for i in range(len(values)):
        hist = values[: i + 1][::-1]
        wts = [(1 - alpha) ** k for k in range(len(hist))]
        exact = sum(v * w for v, w in zip(hist, wts)) / sum(wts)
        assert abs(got[i] - exact) <= bound, (i, got[i], exact, bound)


def test_neardup_engines_agree_on_real_data(spark):
    """The Arrow matrix-product pair scorer must produce the same pair
    set and 6-dp similarities as the HOF fold on the real embeddings
    table — the only divergence is FP summation order (ULPs), which
    the shared rounding absorbs."""
    from curw_mike_data_handler_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hof = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(
            emb, threshold=0.35, bucket_col="label"
        ).collect()
    }
    arrow = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(
            emb, threshold=0.35, bucket_col="label", engine="arrow"
        ).collect()
    }
    assert hof == arrow
    assert len(hof) > 0


def test_neardup_arrow_preserves_id_type(spark):
    """The arrow path derives its output id type from the input schema
    (previously hardcoded bigint, breaking string/int32 ids)."""
    from curw_mike_data_handler_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    s = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
        "label",
    )
    out = embedding_neardup_pairs(
        s, threshold=0.35, bucket_col="label", engine="arrow"
    )
    assert dict(out.dtypes)["id_a"] == "string"
    rows = out.collect()
    assert rows and all(r["id_a"].startswith("doc-") for r in rows)


def test_jaccard_prefix_filter_is_lossless_and_prunes(spark):
    """jaccard_pairs_prefix must return EXACTLY jaccard_pairs' output
    (the prefix filter is lossless) while indexing strictly fewer
    posting rows than the full inverted index, across thresholds —
    checked on real corpus data plus an adversarial near-dup cluster."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.dedup import (
        _distinct_doc_tokens,
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # adversarial: three 90%-overlapping docs + disjoint singletons
    extra = spark.createDataFrame(
        [
            (900001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (900002, "alpha beta gamma delta epsilon zeta eta theta iota lam"),
            (900003, "alpha beta gamma delta epsilon zeta eta theta mu kappa"),
            (900004, "nu xi omicron pi rho"),
        ],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(extra)
    for t in (0.5, 0.6, 0.8):
        plain = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in jaccard_pairs(corpus, threshold=t).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in jaccard_pairs_prefix(corpus, threshold=t).collect()
        }
        assert pref == plain, f"threshold {t}: prefix filter lost/added pairs"
    assert plain  # the adversarial cluster guarantees nonempty output
    # pruning: the t=0.8 prefix index must be well under the full index
    dt = _distinct_doc_tokens(corpus, "doc_id", "text")
    full_rows = dt.count()
    from pyspark.sql import Window

    dfc = dt.groupBy("token").agg(F.count("*").alias("__df"))
    sizes = dt.groupBy("doc").agg(F.count("*").alias("n"))
    ranked = (
        dt.join(dfc, "token")
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("doc").orderBy("__df", "token")),
        )
        .join(sizes, "doc")
    )
    pref_rows = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(0.8) * F.col("n")) + 1
    ).count()
    assert pref_rows < full_rows * 0.5, (pref_rows, full_rows)


def test_interval_overlap_join_matches_naive(spark):
    """Bucketed interval×interval overlap join must equal the naive
    inequality join on random intervals — including intervals spanning
    many buckets, exact bucket-boundary endpoints, and negative
    coordinates (floor semantics) — with each pair emitted exactly
    once (the first-overlap-bucket dedup)."""
    import random

    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    rng = random.Random(11)
    W = 100

    def mk(n, tag):
        rows = []
        for i in range(n):
            s = rng.randrange(-300, 300)
            ln = rng.choice([0, 1, W, W + 1, 3 * W, rng.randrange(0, 250)])
            rows.append((i, rng.randrange(3), s, s + ln))
        return spark.createDataFrame(
            rows, f"{tag}_id long, k long, {tag}_s long, {tag}_e long"
        )

    L, R = mk(40, "l"), mk(40, "r")
    got = {
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            L, R, left_start="l_s", left_end="l_e",
            right_start="r_s", right_end="r_e", by="k", bucket_width=W,
        ).collect()
    }
    naive = {
        (r["l_id"], r["r_id"])
        for r in L.join(R, "k")
        .filter((F.col("l_s") <= F.col("r_e")) & (F.col("r_s") <= F.col("l_e")))
        .collect()
    }
    assert got == naive
    # exactly-once: collect with duplicates preserved
    dup = [
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            L, R, left_start="l_s", left_end="l_e",
            right_start="r_s", right_end="r_e", by="k", bucket_width=W,
        ).collect()
    ]
    assert len(dup) == len(set(dup))


def test_bfs_distances_on_path_and_star(spark):
    """BFS must report true minimum hop counts, respect the depth
    bound (unreached nodes absent), and settle each node exactly once
    — checked on a 10-node path (depth bound truncates at 3) and a
    star with a redundant shortcut (min-distance wins over the longer
    path)."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.graph import bfs_distances

    path = [(i, i + 1) for i in range(9)]
    edges = spark.createDataFrame(path + [(0, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_depth=3).collect()
    }
    # path 0→1→2→3 plus shortcut 0→5→6→7; node 4 via 3 at depth 4 is
    # beyond the bound; 5 is depth 1 via the shortcut, not 5 via path
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 5: 1, 6: 2, 7: 3}


def test_countmin_one_sided_error_and_mass_conservation(spark):
    """Count-min invariants on real corpus data: every estimate is ≥
    the true count (one-sided error), and each depth row of the sketch
    conserves total token mass (Σ cells = Σ counts) — the property
    that makes per-partition sketches mergeable by addition."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark import catalog
    from curw_mike_data_handler_spark.functions.text import tokens
    from curw_mike_data_handler_spark.operators.dedup import portable_hash60

    sf = "/root/testdata/sf0.001"
    for r in catalog.QUERIES["countmin_heavy_hitters"](spark, sf).collect():
        assert r["cm_estimate"] >= r["true_count"], r
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tf = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = tf.agg(F.sum("n")).collect()[0][0]
    salts = spark.range(3).select(F.col("id").cast("int").alias("d"))
    per_depth = (
        tf.crossJoin(F.broadcast(salts))
        .select("d", (portable_hash60("token", salt=F.col("d")) % 64).alias("cell"), "n")
        .groupBy("d", "cell")
        .agg(F.sum("n").alias("c"))
        .groupBy("d")
        .agg(F.sum("c").alias("mass"))
        .collect()
    )
    assert len(per_depth) == 3
    for row in per_depth:
        assert row["mass"] == total, (row, total)


def test_ivm_merge_commutes_with_batching(spark):
    """The IVM fold must be invariant to how rows are batched: any
    partition of the input into arrival batches — including empty
    batches and a single all-at-once batch — yields the identical
    maintained state (the monoid property the catalog query's
    full-recompute oracle pins at the hash level)."""
    import random

    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.ivm import (
        merge_rollup_states,
        partial_rollup,
    )

    rng = random.Random(5)
    rows = [(rng.randrange(7), 1, rng.randrange(-100, 1000)) for _ in range(300)]
    df = spark.createDataFrame(rows, "k long, n long, v long")

    def fold(splits):
        parts = [partial_rollup(b, ["k"], ["n", "v"]) for b in splits]
        return {
            (r["k"], r["n"], r["v"])
            for r in merge_rollup_states(parts, ["k"], ["n", "v"]).collect()
        }

    one_shot = fold([df])
    thirds = fold([
        df.filter(F.pmod(F.col("v"), F.lit(3)) == i) for i in range(3)
    ])
    with_empty = fold([df, df.filter(F.lit(False))])
    assert one_shot == thirds == with_empty and one_shot


def test_seasonal_decompose_components_sum_and_center(spark):
    """Decomposition invariants: v = trend + seasonal + residual
    (to rounding) for every interior row, and the seasonal component
    is centered — the weighted (by slot count) sum of seasonal values
    over all rows is ~0 by construction (avg of detrended values)."""
    from curw_mike_data_handler_spark import catalog

    rows = catalog.QUERIES["seasonal_decompose"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        assert abs(r["v"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-4, r
    assert abs(sum(r["residual"] for r in rows)) / len(rows) < 1.0


def test_interval_overlap_join_default_shared_column_names(spark):
    """The documented default signature — both sides using columns
    named start/end — must work (regression: the overlap predicate
    previously referenced the raw names and hit AMBIGUOUS_REFERENCE)."""
    from curw_mike_data_handler_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    L = spark.createDataFrame(
        [(1, 0, 100), (2, 500, 600)], "l_id long, start long, end long"
    )
    R = spark.createDataFrame(
        [(10, 50, 150), (20, 700, 800)], "r_id long, start long, end long"
    )
    got = sorted(
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(L, R, bucket_width=64).collect()
    )
    assert got == [(1, 10)]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["k1", "k2"]), small_minutes),
        min_size=1,
        max_size=8,
    ),
    rights=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            small_minutes,
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=8,
    ),
)
def test_asof_join_forward_matches_naive(spark, lefts, rights):
    """Forward direction: earliest right row at-or-after each left
    instant (max value among same-instant rights), ties at the exact
    instant included."""
    from curw_mike_data_handler_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, _ts(m)) for k, m in lefts], "key string, time timestamp"
    )
    right = spark.createDataFrame(
        [(k, _ts(m), float(v)) for k, m, v in rights],
        "key string, time timestamp, value double",
    )
    got = {
        (r["key"], r["time"]): r["asof_value"]
        for r in asof_join(
            left, right, on="time", by="key", value_cols=["value"],
            direction="forward",
        ).collect()
    }
    for k, m in set(lefts):
        t = _ts(m)
        cands = [(rm, rv) for rk, rm, rv in rights if rk == k and _ts(rm) >= t]
        want = None
        if cands:
            best = min(rm for rm, _ in cands)
            want = float(max(rv for rm, rv in cands if rm == best))
        assert got[(k, t)] == want, (k, t, got[(k, t)], want)


@settings(max_examples=40, deadline=None)
@given(nbx=st.integers(1, 32), nby=st.integers(1, 20))
def test_jpeg_pixel_roundtrip_property(nbx, nby):
    """Any multiple-of-8 (w,h): full baseline encode (DQT + DHT + real
    entropy-coded scan) → Huffman decode → dequant → IDCT recovers the
    closed-form block-constant raster EXACTLY (DC-only blocks are
    lossless under all-1s quant)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg,
    )

    w, h = 8 * nbx, 8 * nby
    st_ = decode_jpeg_pixels(make_jpeg(w, h, pixels=True))
    s12 = lambda n: (n // 12) * 66 + (n % 12) * ((n % 12) - 1) // 2
    assert st_["width"] == w and st_["height"] == h
    assert st_["n_px"] == w * h
    assert st_["pixel_sum"] == 64 * (
        48 * nby * s12(nbx) + 12 * nbx * s12(nby) + 15 * nbx * nby
    )
    assert st_["pixel_max"] == (
        16 * (min(nbx, 12) - 1) + 4 * (min(nby, 12) - 1) + 10
    )


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_jpeg_ac_path_matches_independent_idct(seed):
    """The AC/run-length/zigzag/IDCT path, verified against an
    INDEPENDENT numpy IDCT: random sparse zigzag coefficient blocks
    (magnitudes within the compact AC table's run/size symbols) are
    entropy-encoded with make_jpeg_from_coefficients and must decode
    to round(IDCT(dezigzag(coeffs))) + 128 clamped — computed here
    from the definition, not via the decoder's own basis matrix."""
    import math
    import random

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        decode_jpeg_pixels,
        make_jpeg_from_coefficients,
    )

    rng = random.Random(seed)
    # runs representable by the table: gaps of 1 (0x11,0x12), 2 (0x21),
    # 3 (0x31) and 0; sizes per symbol
    mcus = []
    for _ in range(rng.randint(1, 4)):  # MCUs (w grows)
        mcu = []
        for _c in range(3):
            block = [0] * 64
            block[0] = rng.randint(-200, 200)  # DC (diff fits cat<=11)
            k = 1
            while k < 64:
                # zero-run before the next coefficient must be a run
                # the table can encode: 0..3, or 16..19 (ZRL + 0..3)
                gap, szmax = rng.choice(
                    [(0, 10), (1, 2), (2, 1), (3, 1), (16, 10), (17, 2)]
                )
                k += gap
                if k >= 64:
                    break
                sz = rng.randint(1, szmax)
                mag = rng.randint(1 << (sz - 1), (1 << sz) - 1)
                block[k] = mag if rng.random() < 0.5 else -mag
                k += 1
            mcu.append(block)
        mcus.append(mcu)
    w, h = 8 * len(mcus), 8
    payload = make_jpeg_from_coefficients(w, h, mcus)
    got = decode_jpeg_pixels(payload)
    assert got is not None

    # independent reference: textbook IDCT double loop
    def idct_ref(zz):
        F = [[0.0] * 8 for _ in range(8)]
        for zi, v in enumerate(zz):
            F[_JPEG_ZIGZAG[zi] // 8][_JPEG_ZIGZAG[zi] % 8] = float(v)
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * F[u][v]
                            * math.cos((2 * y + 1) * u * math.pi / 16)
                            * math.cos((2 * x + 1) * v * math.pi / 16)
                        )
                out[y][x] = s / 4
        return np.clip(np.round(out) + 128, 0, 255)

    total = 0
    pmax = 0.0
    for mcu in mcus:
        for block in mcu:
            px = idct_ref(block)
            total += int(px.sum())
            pmax = max(pmax, float(px.max()))
    assert got["pixel_sum"] == total
    assert got["pixel_max"] == int(pmax)
    assert got["n_px"] == w * h


def test_jpeg_decoder_robustness():
    """Header-only streams (no scan), truncated scans, non-baseline
    frames, and garbage all map to None — never an exception."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg,
    )

    assert decode_jpeg_pixels(make_jpeg(100, 50)) is None  # scanless header
    full = make_jpeg(32, 16, pixels=True)
    assert decode_jpeg_pixels(full[:60]) is None           # truncated tables
    assert decode_jpeg_pixels(full[:-20]) is None or isinstance(
        decode_jpeg_pixels(full[:-20]), dict
    )  # truncated scan: graceful either way, never raises
    # a spliced SOF2 marker over non-frame bytes routes to the
    # progressive decoder, which must reject the garbage frame header
    assert decode_jpeg_pixels(b"\xff\xd8\xff\xc2" + full[4:]) is None
    assert decode_jpeg_pixels(b"not a jpeg") is None


@settings(max_examples=25, deadline=None)
@given(mid=st.integers(0, 5000))
def test_mjpeg_avi_frame_roundtrip_property(mid):
    """Any synth id: MJPEG build (real '00dc' chunks of baseline
    JPEGs) → movi demux → every-10th-frame full JPEG decode recovers
    the closed-form per-frame sums exactly."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_avi_frame_pixels,
        make_avi,
    )

    nbx, nby, nf = 1 + mid % 12, 1 + mid % 8, mid % 24
    out = decode_avi_frame_pixels(
        make_avi(8 * nbx, 8 * nby, n_frames=nf, mjpeg=True), every_n=10
    )
    assert [o["frame_no"] for o in out] == list(range(0, nf, 10))
    for o in out:
        f = o["frame_no"]
        assert o["width"] == 8 * nbx and o["height"] == 8 * nby
        assert o["pixel_sum"] == (
            64 * (24 * nby * nbx * (nbx - 1) + 6 * nbx * nby * (nby - 1)
                  + 15 * nbx * nby)
            + 384 * nbx * nby * (f % 12)
        )
        assert o["pixel_max"] == 16 * (nbx - 1) + 4 * (nby - 1) + 10 + 2 * (f % 12)


def test_mjpeg_avi_demux_robustness():
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_avi_frame_pixels,
        make_avi,
    )

    # header-only AVI (empty movi) → empty list, not None
    assert decode_avi_frame_pixels(make_avi(100, 50, n_frames=7)) == []
    full = make_avi(16, 16, n_frames=3, mjpeg=True)
    assert decode_avi_frame_pixels(b"RIFFxxxxAVI ") == []
    assert decode_avi_frame_pixels(b"garbage") is None
    # truncating inside the movi list loses frames, never raises
    got = decode_avi_frame_pixels(full[: len(full) // 2])
    assert got is None or isinstance(got, list)


def test_jpeg_decoder_handles_420_subsampling():
    """A handcrafted 4:2:0 stream (luma 2×2 sampling, chroma 1×1):
    the decoder must run the replication-upsample branch and recover
    the expected full-resolution component sums.  The stream is built
    from raw parts (the public builders are 4:4:4-only), exercising
    DC prediction across the 4 luma blocks of each MCU via comp_of."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _jpeg_entropy_encode,
        decode_jpeg_pixels,
    )

    w, h = 16, 16  # one 4:2:0 MCU
    # luma blocks constant 100,110,120,130 (TL,TR,BL,BR); chroma 60, 200
    def dcblock(v):
        b = [0] * 64
        b[0] = 8 * (v - 128)
        return b

    mcu = [dcblock(100), dcblock(110), dcblock(120), dcblock(130),
           dcblock(60), dcblock(200)]
    scan = _jpeg_entropy_encode([mcu], comp_of=[0, 0, 0, 0, 1, 2])

    app0 = (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    dqt = b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes([1] * 64)
    sof0 = (b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
    dht = (b"\xff\xc4" + struct.pack(">HB", 19 + len(_JPEG_DC_VALS), 0x00)
           + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
           + b"\xff\xc4" + struct.pack(">HB", 19 + len(_JPEG_AC_VALS), 0x10)
           + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sos = (b"\xff\xda" + struct.pack(">HB", 12, 3)
           + bytes([1, 0x00, 2, 0x00, 3, 0x00]) + bytes([0, 63, 0]))
    payload = b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + scan + b"\xff\xd9"

    st = decode_jpeg_pixels(payload)
    assert st is not None
    assert st["width"] == w and st["height"] == h
    # luma: 4 blocks × 64 px; chroma planes upsample 2× to 16×16 each
    want = 64 * (100 + 110 + 120 + 130) + 256 * 60 + 256 * 200
    assert st["pixel_sum"] == want, (st["pixel_sum"], want)
    assert st["pixel_max"] == 200


@settings(max_examples=25, deadline=None)
@given(nbx=st.integers(1, 30), nby=st.integers(1, 17))
def test_progressive_jpeg_block_constant_matches_baseline(nbx, nby):
    """make_progressive_jpeg carries the SAME closed-form raster as the
    baseline builder through a genuine multi-scan SOF2 stream (DC first
    + banded AC first + DC/AC refinement), and the progressive decode
    path must reproduce the baseline decode EXACTLY — successive
    approximation with Al=1 plus one refinement pass is lossless."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg,
        make_progressive_jpeg,
    )

    w, h = 8 * nbx, 8 * nby
    base = decode_jpeg_pixels(make_jpeg(w, h, pixels=True))
    prog = decode_jpeg_pixels(make_progressive_jpeg(w, h))
    assert base is not None and prog == base


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_progressive_jpeg_matches_independent_idct(seed):
    """Full Annex-G surface against an INDEPENDENT numpy IDCT: random
    zigzag coefficient blocks (EOB runs across blocks, ZRL runs,
    newly-nonzero ±1s, band-end coefficients, |coef| up to 1023) are
    progressive-encoded under a random band split and point transform
    (Al ∈ {1,2} ⇒ one or two refinement passes) and must decode to
    round(IDCT(dezigzag(coeffs))) + 128 clamped, computed here from
    the definition — not via the decoder's own code paths."""
    import random

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        decode_jpeg_pixels,
        make_progressive_jpeg_from_coefficients,
    )

    rng = random.Random(seed)
    mcus = []
    for _ in range(rng.randint(1, 6)):
        mcu = []
        for _c in range(3):
            block = [0] * 64
            block[0] = rng.randint(-1000, 1000)
            style = rng.random()
            if style < 0.2:
                pass  # DC-only: whole-band EOB runs
            elif style < 0.4:
                # ±1s only: every AC is NEWLY nonzero in the refine pass
                for k in rng.sample(range(1, 64), rng.randint(1, 6)):
                    block[k] = rng.choice([-1, 1])
            elif style < 0.7:
                for k in rng.sample(range(1, 64), rng.randint(1, 20)):
                    block[k] = rng.randint(-1000, 1000)
            else:
                # long zero runs to the band end (ZRL + EOB interplay)
                block[63] = rng.choice([-1, 1, -7, 7])
                block[40] = rng.choice([0, 1, -1, 255, -256])
                block[1] = rng.choice([0, -1023, 1023])
            mcu.append(block)
        mcus.append(mcu)
    bands = rng.choice(
        [((1, 63),), ((1, 5), (6, 63)), ((1, 1), (2, 9), (10, 63))]
    )
    al = rng.choice([1, 1, 2])
    w, h = 8 * len(mcus), 8
    payload = make_progressive_jpeg_from_coefficients(
        w, h, mcus, bands=bands, al=al
    )
    got = decode_jpeg_pixels(payload)
    assert got is not None

    u = np.arange(8)
    M = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    M[0, :] /= np.sqrt(2.0)
    zz = np.array(_JPEG_ZIGZAG)
    total, pmax = 0, 0
    for mcu in mcus:
        for block in mcu:
            F8 = np.empty(64)
            F8[zz] = np.asarray(block, dtype=float)
            f = M.T @ F8.reshape(8, 8) @ M
            px = np.clip(np.round(f) + 128, 0, 255)
            total += int(px.sum())
            pmax = max(pmax, int(px.max()))
    assert got == {
        "width": w, "height": h, "n_px": w * h,
        "pixel_sum": total, "pixel_max": pmax,
    }, (seed, bands, al)


def test_progressive_jpeg_decoder_robustness():
    """Truncated/garbled progressive streams map to None, never an
    exception; the header scanner still reads SOF2 dimensions."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_progressive_jpeg,
        parse_media_header,
    )

    full = make_progressive_jpeg(16, 16)
    assert decode_jpeg_pixels(full) is not None
    assert decode_jpeg_pixels(full[:40]) is None          # truncated tables
    assert decode_jpeg_pixels(full[: len(full) // 2]) is None  # mid-scan cut
    assert decode_jpeg_pixels(full[:2] + b"\x00" + full[3:]) is None
    meta = parse_media_header(full)
    assert meta["media_type"] == "image/jpeg"
    assert (meta["width"], meta["height"]) == (16, 16)


def _restricted_random_mcus(rng, n_mcus):
    """Random zigzag coefficient MCUs whose zero-runs and magnitudes
    stay within the compact baseline AC table's run/size symbols (the
    progressive table is a superset, so the same blocks drive both
    codecs)."""
    mcus = []
    for _ in range(n_mcus):
        mcu = []
        for _c in range(3):
            block = [0] * 64
            block[0] = rng.randint(-200, 200)
            k = 1
            while k < 64:
                gap, szmax = rng.choice(
                    [(0, 10), (1, 2), (2, 1), (3, 1), (16, 10), (17, 2)]
                )
                k += gap
                if k >= 64:
                    break
                sz = rng.randint(1, szmax)
                mag = rng.randint(1 << (sz - 1), (1 << sz) - 1)
                block[k] = mag if rng.random() < 0.5 else -mag
                k += 1
            mcu.append(block)
        mcus.append(mcu)
    return mcus


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 10_000), ri=st.integers(1, 12))
def test_jpeg_restart_markers_match_unsegmented_decode(seed, ri):
    """DRI/RSTn handling in BOTH decoders: the same coefficient blocks
    encoded with restart interval ``ri`` (baseline scan segmentation
    with DC-predictor resets; per-scan segmentation with EOB-run resets
    in the progressive multi-scan stream) must decode identically to
    the unsegmented stream — the restart path changes framing, never
    values."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg_from_coefficients,
        make_progressive_jpeg_from_coefficients,
    )

    rng = random.Random(seed)
    mcus = _restricted_random_mcus(rng, rng.randint(2, 8))
    w = 8 * len(mcus)
    base = decode_jpeg_pixels(make_jpeg_from_coefficients(w, 8, mcus))
    assert base is not None
    seg = decode_jpeg_pixels(
        make_jpeg_from_coefficients(w, 8, mcus, restart_interval=ri)
    )
    assert seg == base, ("baseline", seed, ri)
    bands = rng.choice(
        [((1, 63),), ((1, 5), (6, 63)), ((1, 1), (2, 9), (10, 63))]
    )
    al = rng.choice([1, 2])
    prog = decode_jpeg_pixels(
        make_progressive_jpeg_from_coefficients(
            w, 8, mcus, bands=bands, al=al, restart_interval=ri
        )
    )
    assert prog == base, ("progressive", seed, ri, bands, al)


def test_jpeg_restart_robustness():
    """Streams cut at or around a restart marker decode to None (or a
    dict for benign truncation), never raise."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg_from_coefficients,
    )

    mcus = _restricted_random_mcus(random.Random(3), 6)
    full = make_jpeg_from_coefficients(48, 8, mcus, restart_interval=2)
    rst0 = full.index(b"\xff\xd0")
    assert decode_jpeg_pixels(full) is not None
    assert decode_jpeg_pixels(full[: rst0 + 2]) is None   # cut after RST0
    assert decode_jpeg_pixels(full[:rst0]) is None        # cut before RST0
    # RST where none was announced (no DRI): decoder must not consume
    # it as entropy data silently succeeding with garbage — None is ok,
    # a dict is ok only if it equals the well-formed decode
    naked = make_jpeg_from_coefficients(48, 8, mcus)
    spliced = naked[:-2] + b"\xff\xd0" + naked[-2:]
    out = decode_jpeg_pixels(spliced)
    assert out is None or out == decode_jpeg_pixels(naked)


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_progressive_jpeg_subsampled_matches_independent_reference(seed):
    """The progressive decoder's SUBSAMPLED branches — interleaved DC
    MCUs carrying cv×ch blocks per component, non-interleaved AC scans
    over each component's own grid (T.81 A.1.1), and the replication
    upsample at the IDCT pass — verified against an independent numpy
    IDCT + upsample + crop computed from the definition, over random
    sampling factors (4:2:0 / 4:2:2 / 4:4:0 / mixed), band splits,
    Al ∈ {1,2}, and restart intervals."""
    import random

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        decode_jpeg_pixels,
        make_progressive_jpeg_from_planes,
    )

    rng = random.Random(seed)

    def rand_block():
        b = [0] * 64
        b[0] = rng.randint(-1000, 1000)
        for k in rng.sample(range(1, 64), rng.randint(0, 15)):
            b[k] = rng.randint(-1000, 1000)
        return b

    sampling = rng.choice(
        [((2, 2), (1, 1), (1, 1)), ((2, 1), (1, 1), (1, 1)),
         ((1, 2), (1, 1), (1, 1)), ((2, 2), (2, 1), (1, 1))]
    )
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux, mcuy = rng.randint(1, 3), rng.randint(1, 2)
    w, h = 8 * hmax * mcux, 8 * vmax * mcuy
    planes = [
        [[rand_block() for _ in range(mcux * ch)] for _ in range(mcuy * cv)]
        for (ch, cv) in sampling
    ]
    bands = rng.choice(
        [((1, 63),), ((1, 5), (6, 63)), ((1, 1), (2, 9), (10, 63))]
    )
    al = rng.choice([1, 2])
    ri = rng.choice([0, 0, 1, 2, 3])
    payload = make_progressive_jpeg_from_planes(
        w, h, planes, sampling=sampling, bands=bands, al=al,
        restart_interval=ri,
    )
    got = decode_jpeg_pixels(payload)
    assert got is not None

    u = np.arange(8)
    M = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    M[0, :] /= np.sqrt(2.0)
    zz = np.array(_JPEG_ZIGZAG)
    total, pmax = 0, 0
    for c, (ch, cv) in enumerate(sampling):
        nby, nbx = len(planes[c]), len(planes[c][0])
        plane = np.zeros((nby * 8, nbx * 8), dtype=np.int64)
        for yy in range(nby):
            for xx in range(nbx):
                F8 = np.empty(64)
                F8[zz] = np.asarray(planes[c][yy][xx], float)
                f = M.T @ F8.reshape(8, 8) @ M
                plane[yy * 8 : yy * 8 + 8, xx * 8 : xx * 8 + 8] = np.clip(
                    np.round(f) + 128, 0, 255
                )
        plane = np.repeat(
            np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1
        )
        crop = plane[:h, :w]
        total += int(crop.sum())
        pmax = max(pmax, int(crop.max()))
    assert got == {
        "width": w, "height": h, "n_px": w * h,
        "pixel_sum": total, "pixel_max": pmax,
    }, (seed, sampling, bands, al, ri)


def test_progressive_single_component_walks_its_own_grid():
    """T.81 A.2.2: a scan of ONE component is non-interleaved, one block
    per unit, row-major over the component's own grid, even when its
    sampling factors exceed 1.  The DC scan of a single-component frame
    with 2x2 sampling must therefore code the blocks in the same order
    as its AC scans; in MCU order the DC terms land on the wrong blocks
    and the decode no longer matches an independent IDCT."""
    import random

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        decode_jpeg_pixels,
        make_progressive_jpeg_from_planes,
    )

    rng = random.Random(5)
    plane = [
        [
            [rng.randint(-900, 900)]
            + [rng.randint(-300, 300) if k < 6 else 0 for k in range(1, 64)]
            for _ in range(4)
        ]
        for _ in range(2)
    ]
    got = decode_jpeg_pixels(
        make_progressive_jpeg_from_planes(32, 16, [plane], sampling=((2, 2),))
    )
    u = np.arange(8)
    M = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    M[0, :] /= np.sqrt(2.0)
    zz = np.array(_JPEG_ZIGZAG)
    total = 0
    for row in plane:
        for blk in row:
            F8 = np.empty(64)
            F8[zz] = blk
            total += int(np.clip(np.round(M.T @ F8.reshape(8, 8) @ M) + 128, 0, 255).sum())
    assert got is not None and got["pixel_sum"] == total


def test_jpeg_partial_scan_returns_none_not_garbage():
    """A baseline stream whose single scan covers only a subset of the
    frame's components must decode to None — np.asarray would silently
    turn the never-scanned component's all-None grid into NaNs and
    launder them into garbage stats via astype(int)."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_AC_BITS, _JPEG_AC_VALS, _JPEG_DC_BITS, _JPEG_DC_VALS,
        _jpeg_entropy_encode, decode_jpeg_pixels,
    )

    app0 = (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    dqt = b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, 0x00) + bytes([1] * 64)
    sof0 = (b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * 3, 8, 8, 8, 3)
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]))
    dht = (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_DC_VALS), 0x00)
        + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_AC_VALS), 0x10)
        + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    # scan covering components 1 and 2 only; entropy data encoded for
    # exactly those two blocks, so the scan itself parses cleanly
    sos = (b"\xff\xda" + struct.pack(">HB", 6 + 2 * 2, 2)
           + bytes([1, 0x00, 2, 0x00]) + bytes([0, 63, 0]))
    block = [0] * 64
    block[0] = 64
    scan = _jpeg_entropy_encode([[block, block]], comp_of=[0, 1])
    payload = (b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + scan
               + b"\xff\xd9")
    assert decode_jpeg_pixels(payload) is None


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    ct=st.sampled_from([0, 2, 3, 4, 6]),
)
def test_png_all_color_types_roundtrip(w, h, ct):
    """All five 8-bit PNG color types decode: grayscale, RGB, palette
    (expanded through PLTE), gray+alpha and RGBA, each under the full
    five-filter scanline schedule; expected stats recomputed here from
    the closed form.  A genuine Adam7-interlaced encode of the same
    raster must decode to identical stats (the passes partition the
    pixels), and a sequential stream whose IHDR falsely claims
    interlacing must never raise — a lying header is ordinary data
    corruption, and for some shapes the Adam7 pass layout coincides
    byte-for-byte with the sequential one, so a wrong-but-well-formed
    decode is possible (like any flipped payload byte)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _png_pixel_value,
        decode_png_pixels,
        make_png,
    )

    got = decode_png_pixels(make_png(w, h, pixels=True, color_type=ct))
    total, pmax = 0, 0
    for yy in range(h):
        for xx in range(w):
            if ct == 3:
                i = _png_pixel_value(xx, yy, 0)
                vals = (7 * i % 256, 11 * i % 256, 13 * i % 256)
            else:
                nch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
                vals = tuple(_png_pixel_value(xx, yy, c) for c in range(nch))
            total += sum(vals)
            pmax = max(pmax, *vals)
    want = {
        "width": w, "height": h, "n_px": w * h,
        "pixel_sum": total, "pixel_max": pmax,
    }
    assert got == want, (w, h, ct)

    adam7 = decode_png_pixels(
        make_png(w, h, pixels=True, color_type=ct, interlace=True)
    )
    assert adam7 == want, ("adam7", w, h, ct)

    spliced = bytearray(make_png(w, h, pixels=True, color_type=ct))
    spliced[28] = 1  # IHDR interlace byte (decoder ignores the CRC)
    out = decode_png_pixels(bytes(spliced))
    assert out is None or isinstance(out, dict), ("spliced", w, h, ct)

    if ct != 3:  # 16-bit twin: sample = 257x the 8-bit closed form
        got16 = decode_png_pixels(
            make_png(w, h, bit_depth=16, pixels=True, color_type=ct,
                     interlace=(ct in (0, 6)))
        )
        assert got16 == {
            "width": w, "height": h, "n_px": w * h,
            "pixel_sum": 257 * total, "pixel_max": 257 * pmax,
        }, ("16-bit", w, h, ct)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    ct=st.sampled_from([0, 3]),
    d=st.sampled_from([1, 2, 4]),
    interlace=st.booleans(),
)
def test_png_sub_byte_depths_roundtrip(w, h, ct, d, interlace):
    """Sub-byte PNG depths (1/2/4-bit grayscale and palette): filters
    run over the PACKED scanline bytes with a one-byte displacement
    (PNG 9.2), samples bit-unpack MSB-first with row padding dropped,
    and palette indices expand through the 2^depth-entry PLTE —
    sequential and Adam7 (per-pass packing) both verified against the
    closed form recomputed here."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _png_pixel_value,
        decode_png_pixels,
        make_png,
    )

    got = decode_png_pixels(
        make_png(w, h, bit_depth=d, pixels=True, color_type=ct,
                 interlace=interlace)
    )
    total, pmax = 0, 0
    for yy in range(h):
        for xx in range(w):
            v = _png_pixel_value(xx, yy, 0) % (1 << d)
            if ct == 3:
                vals = (7 * v % 256, 11 * v % 256, 13 * v % 256)
            else:
                vals = (v,)
            total += sum(vals)
            pmax = max(pmax, *vals)
    assert got == {
        "width": w, "height": h, "n_px": w * h,
        "pixel_sum": total, "pixel_max": pmax,
    }, (w, h, ct, d, interlace)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(0, 64),
    c=st.integers(1, 4),
    bits=st.sampled_from([8, 16, 24, 32]),
)
def test_wav_all_pcm_widths_roundtrip(n, c, bits):
    """All integer PCM widths decode: 8-bit unsigned (centered), 16-bit,
    24-bit and 32-bit signed little-endian — the encoder carries the
    closed-form waveform scaled by 1/1/2^8/2^16 so the expected stats
    are a pure scale of the 16-bit closed form.  Non-integer-PCM
    format codes (e.g. IEEE float) are rejected."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        _wav_sample_value,
        decode_wav_samples,
        make_wav,
    )

    scale = {8: 1, 16: 1, 24: 256, 32: 65536}[bits]
    got = decode_wav_samples(make_wav(22050, c, bits, n))
    vals = [
        _wav_sample_value(i, ch) * scale
        for i in range(n) for ch in range(c)
    ]
    assert got == {
        "channels": c, "n_frames": n,
        "sample_sum": sum(vals),
        "sample_max": max(vals) if vals else None,
    }, (n, c, bits)

    w = bytearray(make_wav(22050, c, 16, max(n, 1)))
    off = w.index(b"fmt ") + 8
    w[off : off + 2] = struct.pack("<H", 3)  # IEEE-float format code
    assert decode_wav_samples(bytes(w)) is None


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 100_000))
def test_decoders_never_raise_on_corrupted_streams(seed):
    """The one-bad-blob contract, fuzzed: every decoder and the header
    parser must survive arbitrary byte flips, truncations and splices
    of valid streams without raising — a corrupted payload in a 100 TB
    batch maps to None (or a wrong-but-well-formed dict), never to a
    task failure."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_avi_frame_pixels,
        decode_bmp_pixels,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_wav_samples,
        make_avi,
        make_bmp,
        make_gif,
        make_jpeg,
        make_png,
        make_progressive_jpeg,
        make_wav,
        parse_avi_header,
        parse_media_header,
    )

    rng = random.Random(seed)
    # build a pool of valid streams (legal depth/type combos only)
    pool = []
    ct = rng.choice([0, 2, 3, 4, 6])
    depth = rng.choice({0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                        4: (8, 16), 6: (8, 16)}[ct])
    pool.append(make_png(rng.randint(1, 24), rng.randint(1, 16),
                         bit_depth=depth, pixels=True, color_type=ct,
                         interlace=rng.random() < 0.5))
    pool.append(make_jpeg(8 * rng.randint(1, 8), 8 * rng.randint(1, 6),
                          pixels=True))
    pool.append(make_progressive_jpeg(8 * rng.randint(1, 8),
                                      8 * rng.randint(1, 6)))
    pool.append(make_gif(rng.randint(1, 40), rng.randint(1, 30),
                         interlace=rng.random() < 0.5,
                         min_code_size=rng.choice([2, 4, 8])))
    pool.append(make_bmp(rng.randint(1, 40), rng.randint(1, 30),
                         fno=rng.randint(0, 3)))
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_gif_frame_pixels,
        make_animated_gif,
    )

    pool.append(make_animated_gif(rng.randint(1, 32),
                                  [rng.randint(1, 20)
                                   for _ in range(rng.randint(1, 6))]))
    pool.append(make_wav(8000, rng.randint(1, 3),
                         rng.choice([8, 16, 24, 32]), rng.randint(0, 40)))
    pool.append(make_wav(8000, rng.randint(1, 2), n_samples=rng.randint(0, 30),
                         ieee_float=True))
    pool.append(make_avi(16, 16, fps=10, n_frames=rng.randint(1, 12),
                         mjpeg=True))
    pool.append(make_avi(16 * rng.randint(1, 4), 8 * rng.randint(1, 4),
                         fps=10, n_frames=rng.randint(1, 12), rgb=True))
    # multi-scan sequential baseline (one non-interleaved scan/comp)
    from curw_mike_data_handler_spark.operators.multimodal import (
        make_multiscan_baseline_jpeg,
    )

    msw, msh = 16 * rng.randint(1, 3), 16
    ms_hv = rng.choice([[(1, 1)] * 3, [(2, 2), (1, 1), (1, 1)]])
    ms_hmax = max(x for x, _ in ms_hv)
    ms_blocks = []
    for c, (ch, cv) in enumerate(ms_hv):
        bxc = -(-(-(-(msw * ch) // ms_hmax)) // 8)
        byc = -(-(-(-(msh * cv) // ms_hmax)) // 8)
        ms_blocks.append(
            [[rng.randint(-100, 100)] + [0] * 63 for _ in range(bxc * byc)]
        )
    pool.append(make_multiscan_baseline_jpeg(msw, msh, ms_blocks, hv=ms_hv))
    # SOF1 extended-sequential twin of the baseline stream
    from curw_mike_data_handler_spark.operators.multimodal import (
        make_jpeg_from_coefficients,
    )

    sof1_mcus = [[[rng.randint(-80, 80)] + [0] * 63 for _ in range(3)]
                 for _ in range(rng.randint(1, 3))]
    pool.append(make_jpeg_from_coefficients(8 * len(sof1_mcus), 8, sof1_mcus,
                                            extended=True))
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pixels,
        make_tiff,
    )

    pool.append(make_tiff(rng.randint(1, 40), rng.randint(1, 30),
                          phase=rng.randint(0, 3),
                          big_endian=rng.random() < 0.5,
                          rows_per_strip=rng.randint(1, 12)))
    pool.append(make_tiff(rng.randint(1, 40), rng.randint(1, 30),
                          phase=rng.randint(0, 3),
                          big_endian=rng.random() < 0.5,
                          rows_per_strip=rng.randint(1, 12),
                          compression="packbits"))
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pages,
        make_multipage_tiff,
    )

    pool.append(make_multipage_tiff(
        [(rng.randint(1, 30), rng.randint(1, 20), rng.randint(0, 3))
         for _ in range(rng.randint(1, 5))],
        big_endian=rng.random() < 0.5,
        rows_per_strip=rng.randint(1, 8),
        compression=rng.choice(["none", "packbits"])))

    decoders = (
        decode_png_pixels, decode_jpeg_pixels, decode_wav_samples,
        decode_gif_pixels, decode_bmp_pixels, decode_gif_frame_pixels,
        decode_tiff_pixels,
        decode_tiff_pages,
        lambda p: decode_avi_frame_pixels(p, every_n=3),
        parse_avi_header, parse_media_header,
    )
    for payload in pool:
        b = bytearray(payload)
        mode = rng.random()
        if mode < 0.4:  # flip 1-8 random bytes
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            b = bytes(b)
        elif mode < 0.7:  # truncate anywhere
            b = bytes(b[: rng.randrange(len(b) + 1)])
        else:  # splice a random chunk of another stream into the middle
            other = pool[rng.randrange(len(pool))]
            at = rng.randrange(len(b) + 1)
            piece = other[: rng.randrange(min(len(other), 64) + 1)]
            b = bytes(b[:at]) + piece + bytes(b[at:])
        for dec in decoders:
            out = dec(b)  # must not raise
            assert out is None or isinstance(out, (dict, list))


# ---------------------------------------------------------------------------
# multi-scan SEQUENTIAL baseline JPEG (ADVICE r6 #1)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=40, deadline=None)
def test_multiscan_baseline_matches_interleaved_decode(seed):
    """T.81 A.2.2: a sequential frame split into one non-interleaved
    scan per component must decode pixel-identically to the SAME
    quantized coefficients in a single interleaved scan — per-scan DC
    predictors and the component-own-grid walk must not change the
    reconstruction.  Random sparse AC blocks within the compact
    table's symbols."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg_from_coefficients,
        make_multiscan_baseline_jpeg,
    )

    rng = random.Random(seed)
    nbx = rng.randint(1, 4)
    mcus = []
    for _ in range(nbx):
        mcu = []
        for _c in range(3):
            block = [0] * 64
            block[0] = rng.randint(-200, 200)
            k = 1
            while k < 64:
                gap, szmax = rng.choice(
                    [(0, 10), (1, 2), (2, 1), (3, 1), (16, 10), (17, 2)]
                )
                k += gap
                if k >= 64:
                    break
                sz = rng.randint(1, szmax)
                mag = rng.randint(1 << (sz - 1), (1 << sz) - 1)
                block[k] = mag if rng.random() < 0.5 else -mag
                k += 1
            mcu.append(block)
        mcus.append(mcu)
    w, h = 8 * nbx, 8
    single = decode_jpeg_pixels(make_jpeg_from_coefficients(w, h, mcus))
    comp_blocks = [[mcu[c] for mcu in mcus] for c in range(3)]
    ri = rng.choice([0, 0, 1, 2])
    multi = decode_jpeg_pixels(
        make_multiscan_baseline_jpeg(w, h, comp_blocks, restart_interval=ri)
    )
    assert single is not None and multi == single


def test_multiscan_baseline_subsampled_pads_uncoded_blocks():
    """A 4:2:0 multi-scan frame at 8x8: the luma scan codes only the
    component's OWN 1x1 block grid, leaving 3 MCU-padding cells
    legally uncoded — they must zero-fill, not reject the stream, and
    the DC-only closed form fixes every pixel."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_multiscan_baseline_jpeg,
    )

    hv = [(2, 2), (1, 1), (1, 1)]
    dcs = [24, -16, 40]
    blocks = []
    for dc in dcs:
        zz = [0] * 64
        zz[0] = dc
        blocks.append([zz])
    st_ = decode_jpeg_pixels(make_multiscan_baseline_jpeg(8, 8, blocks, hv=hv))
    assert st_ is not None
    exp = sum(
        64 * min(255, max(0, round(dc / 8) + 128)) for dc in dcs
    )
    assert (st_["width"], st_["height"], st_["n_px"]) == (8, 8, 64)
    assert st_["pixel_sum"] == exp


def test_multiscan_baseline_tables_may_change_between_scans():
    """T.81 B.2.4: DHT/DRI segments may appear between scans of one
    frame — splicing a redundant DHT before the second SOS must not
    perturb the decode (the walk keeps parsing segments mid-frame)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _JPEG_AC_BITS, _JPEG_AC_VALS, _JPEG_DC_BITS, _JPEG_DC_VALS,
        decode_jpeg_pixels,
        make_multiscan_baseline_jpeg,
    )
    import struct

    comp_blocks = []
    for c in range(3):
        zz = [0] * 64
        zz[0] = 32 + 8 * c
        zz[1] = 3 - c
        comp_blocks.append([zz, list(zz)])
    payload = make_multiscan_baseline_jpeg(16, 8, comp_blocks)
    base = decode_jpeg_pixels(payload)
    assert base is not None

    dht = (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_DC_VALS), 0x00)
        + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    )
    second_sos = payload.index(b"\xff\xda", payload.index(b"\xff\xda") + 2)
    spliced = payload[:second_sos] + dht + payload[second_sos:]
    assert decode_jpeg_pixels(spliced) == base


# ---------------------------------------------------------------------------
# bucketed_running_agg: exact distributed prefix aggregation (r7)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=10, deadline=None)
def test_bucketed_running_agg_matches_plain_window(spark, seed):
    """The two-phase scan must be EXACT: identical to the plain
    enum-key window on every (agg, frame, grouping, order-key-type)
    combination — sketch-edge placement may move rows between buckets
    but never a result.  Includes duplicate order keys straddling
    bucket edges and negative values."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_running_agg,
    )

    rng = random.Random(seed)
    rows = [
        (
            rng.choice("ab"),
            f"doc_{rng.randrange(50):04d}",  # heavy duplicate order keys
            i,
            rng.randrange(-50, 100),
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, ["k", "oid", "uid", "v"])
    cases = [
        (["k"], ["oid", "uid"], "sum", True),
        (["k"], ["oid", "uid"], "sum", False),
        (["k"], ["uid"], "max", False),
        ([], ["oid", "uid"], "sum", True),
    ]
    by, order, agg, inclusive = cases[seed % len(cases)]
    got = bucketed_running_agg(
        df, "v", by=by, order_cols=order, out_col="r",
        agg=agg, inclusive=inclusive, n_buckets=rng.choice([2, 7, 16]),
    )
    w = (
        Window.partitionBy(*by).orderBy(*order)
        if by
        else Window.orderBy(*order)
    ).rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    fn = F.sum if agg == "sum" else F.max
    ref = df.withColumn("r", fn("v").over(w))
    a = {(r["k"], r["uid"]): r["r"] for r in got.collect()}
    b = {(r["k"], r["uid"]): r["r"] for r in ref.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# uncompressed (BI_RGB) AVI frame decode (r6 verdict #6)


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=40, deadline=None)
def test_rgb_avi_frame_roundtrip_matches_closed_form(mid):
    """Every sampled '00db' frame must reduce to the _dib_pixel_value
    closed form — a wrong stride, padding byte, bottom-up flip, or
    chunk id would shift the sum."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_avi_frame_pixels,
        make_avi,
    )

    w, h, nf = 16 * (1 + mid % 6), 8 * (1 + mid % 5), mid % 24
    payload = make_avi(w, h, n_frames=nf, rgb=True)
    got = decode_avi_frame_pixels(payload, every_n=10)
    exp = [
        {
            "frame_no": f,
            "width": w,
            "height": h,
            "pixel_sum": 3 * h * (w // 16) * 120 + 3 * w * (h // 8) * 56
            + 111 * w * h + 33 * w * h * (f % 4),
            "pixel_max": 103 + 11 * (f % 4),
        }
        for f in range(0, nf, 10)
    ]
    assert got == exp


def test_rgb_avi_respects_row_padding_and_exact_samples():
    """A width whose 3-byte rows need real padding (w=20 → 60-byte
    rows, stride 60; w=17 is impossible at our multiple-of-16 synth,
    so build a frame directly): padding bytes must NOT leak into the
    stats, and a short frame buffer must be skipped, not mis-read."""
    import struct

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        _decode_dib_frame,
    )

    w, h = 6, 2  # 18-byte rows → stride 20: two real padding bytes
    stride = (w * 3 + 3) & ~3
    assert stride == 20
    rows = np.full((h, stride), 255, dtype=np.uint8)  # poison padding
    vals = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w * 3)
    rows[:, : w * 3] = vals
    st_ = _decode_dib_frame(rows.tobytes(), w, h, 24)
    assert st_ is not None
    assert st_["pixel_sum"] == int(vals.astype(np.int64).sum())
    assert st_["pixel_max"] == int(vals.max())  # 255 padding invisible
    # short buffer → None, never a mis-shaped read
    assert _decode_dib_frame(rows.tobytes()[:-1], w, h, 24) is None
    # non-24-bpp refused (spec surface we don't claim)
    assert _decode_dib_frame(rows.tobytes(), w, h, 32) is None


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=10, deadline=None)
def test_bucketed_range_agg_matches_plain_window(spark, seed):
    """The bucket + overlap carry-in rewrite of a trailing RANGE frame
    must be EXACT — identical to the plain enum-key range window,
    including timestamp ties (peers), lookbacks wider than a bucket
    (multi-bucket carries), and the frame row count."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_range_agg,
    )

    rng = random.Random(seed)
    lookback = rng.choice([3, 10, 50])   # 50 ≫ bucket span → multi-carry
    rows = [
        (rng.choice("ab"), i, rng.randrange(0, 100), rng.randrange(-9, 10))
        for i in range(500)
    ]
    # duplicate timestamps: peers must enter each other's frames
    rows += [(k, 1000 + i, t, v) for i, (k, _, t, v) in enumerate(rows[:50])]
    df = spark.createDataFrame(rows, ["k", "uid", "t", "v"])
    got = bucketed_range_agg(
        df, "v", by=["k"], order_col="t", lookback=lookback,
        out_col="s", count_col="n", n_buckets=rng.choice([4, 16]),
    )
    w = (
        Window.partitionBy("k").orderBy("t")
        .rangeBetween(-lookback, 0)
    )
    ref = df.withColumn("s", F.sum("v").over(w)).withColumn(
        "n", F.count("*").over(w)
    )
    a = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in got.collect()}
    b = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in ref.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# SOF1 extended-sequential JPEG + IEEE-float WAV (r7 widenings)


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=25, deadline=None)
def test_sof1_extended_sequential_decodes_like_baseline(seed):
    """SOF1 (extended sequential, Huffman) at 8-bit precision is
    entropy-coded identically to SOF0 — the same random coefficients
    must decode pixel-identically under either frame marker; a 12-bit
    SOF1 stream stays rejected."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg_from_coefficients,
    )

    rng = random.Random(seed)
    mcus = []
    for _ in range(rng.randint(1, 3)):
        mcu = []
        for _c in range(3):
            block = [0] * 64
            block[0] = rng.randint(-200, 200)
            if rng.random() < 0.7:
                block[1] = rng.choice([-3, -1, 1, 3])
            mcu.append(block)
        mcus.append(mcu)
    w = 8 * len(mcus)
    base = decode_jpeg_pixels(make_jpeg_from_coefficients(w, 8, mcus))
    ext = make_jpeg_from_coefficients(w, 8, mcus, extended=True)
    assert decode_jpeg_pixels(ext) == base and base is not None
    i = ext.index(b"\xff\xc1")
    assert decode_jpeg_pixels(ext[: i + 4] + bytes([12]) + ext[i + 5 :]) is None


@given(st.integers(min_value=0, max_value=40), st.integers(min_value=1, max_value=3))
@settings(max_examples=25, deadline=None)
def test_float_wav_roundtrip_exact_quarters(n, c):
    """fmt-3 float32 frames carrying dyadic quarters must decode to
    EXACT double stats (quarters sum exactly in float64 under any
    association); the integer-schema stats path must drop float WAVs
    and the float path must drop integer ones."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _wav_sample_value,
        decode_wav_samples,
        make_wav,
    )

    payload = make_wav(8000, c, n_samples=n, ieee_float=True)
    st_ = decode_wav_samples(payload)
    vals = [_wav_sample_value(i, ch) / 4.0 for i in range(n) for ch in range(c)]
    assert st_["channels"] == c and st_["n_frames"] == n
    assert st_["sample_sum"] == (sum(vals) if vals else 0.0)
    assert st_["sample_max"] == (max(vals) if vals else None)
    if n:
        assert isinstance(st_["sample_sum"], float)
    # float64 WAV (fmt 3, bits 64) refused — unclaimed surface
    import struct

    i = payload.index(b"fmt ")
    bad = bytearray(payload)
    bad[i + 8 + 14 : i + 8 + 16] = struct.pack("<H", 64)
    assert decode_wav_samples(bytes(bad)) is None


def test_wav_stats_paths_partition_mixed_corpus(spark):
    """One corpus mixing integer-PCM and float WAVs: the long-schema
    stats see only the integer rows, the double-schema stats only the
    float rows — no coercion, no dropped batch."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        make_wav,
        wav_float_sample_stats,
        wav_sample_stats,
    )

    media = spark.createDataFrame(
        [
            (1, "audio/wav", make_wav(8000, 1, 16, 5)),
            (2, "audio/wav", make_wav(8000, 2, n_samples=7, ieee_float=True)),
            (3, "x", b"junk"),
        ],
        "media_id long, media_type string, payload binary",
    )
    ints = {r["media_id"] for r in wav_sample_stats(media).collect()}
    floats = {r["media_id"] for r in wav_float_sample_stats(media).collect()}
    assert ints == {1} and floats == {2}


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=8, deadline=None)
def test_bucketed_lag_matches_plain_window(spark, seed):
    """bucketed_lag must equal the plain window lag exactly: within-
    bucket rows take the ordinary lag, each bucket's first row takes
    the previous non-empty bucket's last row, and the global first row
    lags to NULL — across groupings and duplicate order keys."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import bucketed_lag

    rng = random.Random(seed)
    rows = [
        (rng.choice("ab"), rng.randrange(40), i, rng.randrange(-50, 100))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["k", "t", "uid", "v"])
    by = [["k"], []][seed % 2]
    got = bucketed_lag(
        df, ["v", "t"], by=by, order_cols=["t", "uid"],
        n_buckets=rng.choice([3, 8, 16]),
    )
    w = Window.partitionBy(*by).orderBy("t", "uid") if by else Window.orderBy("t", "uid")
    ref = df.withColumn("lag_v", F.lag("v").over(w)).withColumn(
        "lag_t", F.lag("t").over(w)
    )
    a = {(r["k"], r["uid"]): (r["lag_v"], r["lag_t"]) for r in got.collect()}
    b = {(r["k"], r["uid"]): (r["lag_v"], r["lag_t"]) for r in ref.collect()}
    assert a == b


def test_gif_lzw_hand_derived_vectors():
    """Pin the LZW width-growth convention with byte streams derived by
    hand from the GIF89a spec (variable-width LSB-first codes, width
    grows when the DECODER's table reaches 2^width — one entry behind
    the encoder; the terminal flush adds a decoder-side entry too).  A
    shared-wrong-convention encoder/decoder pair would round-trip
    happily; these vectors catch exactly that failure mode."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    # m=2, input 11111 -> codes 4@3,1@3,6@3,6@3 then EOI; the flush
    # code lands the decoder table on 8 = 2^3, so EOI is 5@4.
    assert _lzw_encode([1, 1, 1, 1, 1], 2) == bytes([140, 93])
    assert list(_lzw_decode(bytes([140, 93]), 2, 5)) == [1, 1, 1, 1, 1]

    # m=2, input 012300112: a MID-stream bump with non-zero data after
    # it (codes 4@3,0@3,1@3,2@3 then 3,0,6,7,5 all @4).
    bits = []
    for code, w in [(4, 3), (0, 3), (1, 3), (2, 3),
                    (3, 4), (0, 4), (6, 4), (7, 4), (5, 4)]:
        bits += [(code >> i) & 1 for i in range(w)]
    by = bytearray()
    for i in range(0, len(bits), 8):
        chunk = bits[i:i + 8] + [0] * (8 - len(bits[i:i + 8]))
        by.append(sum(b << j for j, b in enumerate(chunk)))
    expect = [0, 1, 2, 3, 0, 0, 1, 1, 2]
    assert _lzw_encode(expect, 2) == bytes(by)
    assert list(_lzw_decode(bytes(by), 2, 9)) == expect


@settings(max_examples=60, deadline=None)
@given(
    m=st.integers(2, 8),
    w=st.integers(1, 48),
    h=st.integers(1, 32),
    interlace=st.booleans(),
    kind=st.sampled_from(["random", "run", "binary"]),
    seed=st.integers(0, 2**31),
)
def test_gif_roundtrip_property(m, w, h, interlace, kind, seed):
    """Any raster, any min-code-size, both interlace modes: encode →
    LZW inflate → de-interlace recovers the EXACT index raster (runs
    exercise the KwKwK branch; display-order equality catches a
    misplaced interlace pass, which aggregate stats cannot)."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        _gif_decode_raster,
        make_gif,
    )

    rng = random.Random(seed)
    nc = 1 << m
    if kind == "random":
        ind = [rng.randrange(nc) for _ in range(w * h)]
    elif kind == "run":
        ind = [rng.randrange(nc)] * (w * h)
    else:
        ind = [rng.randrange(min(nc, 2)) for _ in range(w * h)]
    got = _gif_decode_raster(
        make_gif(w, h, interlace=interlace, min_code_size=m, indices=ind)
    )
    assert got is not None
    dw, dh, idx, ct = got
    assert (dw, dh) == (w, h) and list(idx) == ind and len(ct) == nc


def test_gif_table_full_clear_roundtrip():
    """A raster large enough to fill the 4096-entry LZW table forces
    mid-stream Clear/reset cycles; the raster must still round-trip
    exactly and the closed-form stats formula must hold."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        _gif_decode_raster,
        decode_gif_pixels,
        make_gif,
    )

    rng = random.Random(3)
    w, h = 250, 120
    ind = [rng.randrange(256) for _ in range(w * h)]
    assert list(_gif_decode_raster(make_gif(w, h, min_code_size=8,
                                            indices=ind))[2]) == ind

    # default closed-form raster at a multiple-of-16 width: exact stats
    st_ = decode_gif_pixels(make_gif(128, 36, interlace=True))
    assert st_ == {"width": 128, "height": 36, "n_px": 128 * 36,
                   "pixel_sum": (255 * 16 + 840) * 8 * 36,
                   "pixel_max": 255}


def test_gif_header_parse_and_corruption():
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_gif_pixels,
        make_gif,
        parse_media_header,
    )

    full = make_gif(48, 20)
    meta = parse_media_header(full)
    assert meta["media_type"] == "image/gif"
    assert (meta["width"], meta["height"]) == (48, 20)
    assert decode_gif_pixels(b"not a gif") is None
    assert decode_gif_pixels(b"GIF89a") is None
    for cut in range(0, len(full), 17):
        r = decode_gif_pixels(full[:cut])
        assert r is None or isinstance(r, dict)


@settings(max_examples=30, deadline=None)
@given(w=st.integers(1, 64), h=st.integers(1, 48), f=st.integers(0, 7))
def test_bmp_roundtrip_matches_dib_closed_form(w, h, f):
    """BMP files reuse the AVI BI_RGB row layout: decode must honor the
    stored pixel-array offset and recover the exact `_dib_pixel_value`
    sums at any (w, h), padded or not."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _dib_pixel_value,
        decode_bmp_pixels,
        make_bmp,
    )

    st_ = decode_bmp_pixels(make_bmp(w, h, f))
    assert st_ is not None
    assert (st_["width"], st_["height"], st_["n_px"]) == (w, h, w * h)
    assert st_["pixel_sum"] == sum(
        _dib_pixel_value(x, y, c, f)
        for x in range(w) for y in range(h) for c in range(3)
    )
    assert st_["pixel_max"] == max(
        _dib_pixel_value(x, y, c, f)
        for x in range(min(w, 16)) for y in range(min(h, 8)) for c in range(3)
    )


def test_bmp_rejects_unsupported_shapes():
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_bmp_pixels,
        make_bmp,
    )

    assert decode_bmp_pixels(b"BM") is None
    assert decode_bmp_pixels(b"PNG...") is None
    full = bytearray(make_bmp(32, 16))
    full[30] = 1  # biCompression=BI_RLE8
    assert decode_bmp_pixels(bytes(full)) is None


@settings(max_examples=30, deadline=None)
@given(d=st.integers(0, 10_000))
def test_animated_gif_frames_roundtrip(d):
    """Any doc-id parameterization: every frame of the multi-image
    stream decodes to the exact closed-form raster with its OWN
    height, in descriptor order; odd frames prove the interlace + LCT
    paths (rotated palette keeps the stats closed-form)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _gif_decode_frames,
        _gif_pixel_index,
        decode_gif_frame_pixels,
        make_animated_gif,
    )

    w = 16 * (1 + d % 6)
    hs = [1 + (d + 2 * f) % 23 for f in range(1 + d % 12)]
    g = make_animated_gif(w, hs)
    sts = decode_gif_frame_pixels(g)
    assert sts is not None and len(sts) == len(hs)
    for f, (st_, h) in enumerate(zip(sts, hs)):
        assert (st_["frame_no"], st_["width"], st_["height"]) == (f, w, h)
        assert st_["pixel_sum"] == (255 * 16 + 840) * (w // 16) * h
        assert st_["pixel_max"] == 255
    for f, (fw, fh, idx, ct) in enumerate(_gif_decode_frames(g)):
        assert idx == bytearray(
            _gif_pixel_index(x, y) for y in range(fh) for x in range(fw)
        )
        assert ct[0] == ((17, 238, 7) if f % 2 else (0, 255, 0))


def test_media_pixel_stats_routes_mixed_corpus(spark):
    """One Arrow pass over a heterogeneous payload column: each format
    reaches its own decoder by magic bytes, undecodable rows drop."""
    import pandas as pd

    from curw_mike_data_handler_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp_pixels,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        make_bmp,
        make_gif,
        make_jpeg,
        make_png,
        make_wav,
        media_pixel_stats,
    )

    payloads = {
        1: make_png(20, 12, pixels=True),
        2: make_jpeg(16, 16, pixels=True),
        3: make_gif(32, 9),
        4: make_bmp(32, 16, 2),
        5: make_wav(8000, 1, 16, 10),   # not an image: dropped
        6: b"opaque junk payload",      # undecodable: dropped
    }
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_id": list(payloads),
            "media_type": ["x"] * len(payloads),
            "payload": [bytearray(v) for v in payloads.values()],
        }),
        schema=MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r.asDict() for r in media_pixel_stats(media).collect()}
    assert set(got) == {1, 2, 3, 4}
    exp = {1: decode_png_pixels(payloads[1]), 2: decode_jpeg_pixels(payloads[2]),
           3: decode_gif_pixels(payloads[3]), 4: decode_bmp_pixels(payloads[4])}
    for mid, st in exp.items():
        for k, v in st.items():
            assert got[mid][k] == v, (mid, k)


def test_gif87a_and_deferred_clear_lzw():
    """Real-corpus GIF edge cases the encoder twin never produces:
    (a) GIF87a version headers must decode like 89a; (b) 'deferred
    clear' LZW — a stream that fills the 4096-entry table and keeps
    emitting existing codes WITHOUT a Clear (spec-legal; several real
    encoders do this) — must keep decoding with the frozen table."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _lzw_decode,
        decode_gif_pixels,
        make_gif,
    )

    g = bytearray(make_gif(32, 5))
    g[0:6] = b"GIF87a"
    st_ = decode_gif_pixels(bytes(g))
    assert st_ is not None and st_["width"] == 32

    # hand-packed deferred-clear stream (m=8): alternating root codes
    # 0,1 — each pair adds an entry until the table freezes at 4096;
    # the width schedule mirrors the decoder's (bump at 2^width).
    m, clear, eoi = 8, 256, 257
    data = [0, 1] * 2500
    out = bytearray()
    acc = nbits = 0
    width = m + 1
    table_len, first = 258, True
    for c in [clear] + data + [eoi]:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c == clear:
            table_len, first, width = 258, True, m + 1
        elif c != eoi and not first:
            if table_len < 4096:
                table_len += 1
                if table_len == (1 << width) and width < 12:
                    width += 1
        elif c != eoi:
            first = False
    if nbits:
        out.append(acc & 0xFF)
    assert list(_lzw_decode(bytes(out), m, 10_000)) == data


def test_wav_zero_channels_returns_none():
    """A hostile fmt chunk declaring channels=0 must map to None (the
    never-raise contract), not ZeroDivisionError — both the integer
    and the IEEE-float branch divide by the channel count."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_wav_samples,
        make_wav,
    )

    for float_ in (False, True):
        w = bytearray(make_wav(8000, 1, 32 if float_ else 16, 10,
                               ieee_float=float_))
        off = w.index(b"fmt ") + 8 + 2
        w[off:off + 2] = struct.pack("<H", 0)
        assert decode_wav_samples(bytes(w)) is None


def test_avi_audio_stream_first_still_finds_video_strf():
    """Real-corpus AVIs often list the AUDIO strl before the video
    one; its strf is a WAVEFORMATEX, not a BITMAPINFOHEADER — the
    demuxer must skip it (strh fccType != 'vids') and read the video
    stream's dims, or every DIB frame decodes with garbage stride."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        _dib_pixel_value,
        _make_dib_frame,
        decode_avi_frame_pixels,
    )

    w, h = 32, 16
    # audio strl: strh 'auds' + 20-byte fake WAVEFORMATEX strf whose
    # leading ints would parse as absurd dims if taken as BITMAPINFO
    a_strh = b"auds" + b"\x00" * 52
    a_strf = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16) + b"\x00" * 4
    a_strl = (b"strl" + b"strh" + struct.pack("<I", len(a_strh)) + a_strh
              + b"strf" + struct.pack("<I", len(a_strf)) + a_strf)
    v_strh = (b"vids" + b"DIB " + struct.pack("<IHHI", 0, 0, 0, 0)
              + struct.pack("<IIIIIIII", 1, 10, 0, 2, 0, 0, 0, 0)
              + struct.pack("<hhhh", 0, 0, w, h))
    v_strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24,
                         b"\x00\x00\x00\x00", w * h * 3, 0, 0, 0, 0)
    v_strl = (b"strl" + b"strh" + struct.pack("<I", len(v_strh)) + v_strh
              + b"strf" + struct.pack("<I", len(v_strf)) + v_strf)
    avih = struct.pack("<14I", 100_000, 0, 0, 0, 2, 0, 1, 0, w, h,
                       0, 0, 0, 0)
    hdrl = (b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
            + b"LIST" + struct.pack("<I", len(a_strl)) + a_strl
            + b"LIST" + struct.pack("<I", len(v_strl)) + v_strl)
    movi = b"movi"
    for fno in range(2):
        frame = _make_dib_frame(w, h, fno)
        movi += b"00db" + struct.pack("<I", len(frame)) + frame
    body = (b"AVI " + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
            + b"LIST" + struct.pack("<I", len(movi)) + movi)
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    out = decode_avi_frame_pixels(avi, every_n=1)
    assert out is not None and len(out) == 2
    for fno, st in enumerate(out):
        assert (st["width"], st["height"]) == (w, h)
        assert st["pixel_sum"] == sum(
            _dib_pixel_value(x, y, c, fno)
            for x in range(w) for y in range(h) for c in range(3)
        )


def test_running_agg_reuses_lag_bucketing(spark):
    """bucketed_lag(keep_bucket_col=) + bucketed_running_agg(
    bucket_col=) must equal the plain lag+cumsum window chain — one
    shared sketch pass instead of two."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_lag,
        bucketed_running_agg,
    )

    rng = random.Random(17)
    rows = [("k%d" % (i % 3), i * 7 % 1000, i, rng.randint(0, 5))
            for i in range(400)]
    df = spark.createDataFrame(rows, "k string, t long, uid long, v long")
    lagged = bucketed_lag(df, ["t"], by=["k"], order_cols=["t", "uid"],
                          n_buckets=8, keep_bucket_col="__bk")
    brk = (F.col("lag_t").isNull() | ((F.col("t") - F.col("lag_t")) > 50))
    got = bucketed_running_agg(
        lagged.select("k", "t", "uid", "v", "__bk",
                      brk.cast("long").alias("brk")),
        "brk", by=["k"], order_cols=["t", "uid"], out_col="ep",
        bucket_col="__bk",
    ).select("k", "t", "uid", "ep")

    w = Window.partitionBy("k").orderBy("t", "uid")
    exp = (
        df.withColumn("lag_t", F.lag("t").over(w))
        .withColumn(
            "ep",
            F.sum(
                (F.col("lag_t").isNull()
                 | ((F.col("t") - F.col("lag_t")) > 50)).cast("long")
            ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("k", "t", "uid", "ep")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_decoders_survive_hostile_single_fields():
    """The channels=0 lesson generalized: a VALID container with one
    pathological field (which random corruption rarely synthesizes)
    must map to None, never raise — zero JPEG sampling factors, zero
    JPEG component count, zero/absurd PNG width, sub-spec GIF min
    code size."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        make_gif,
        make_jpeg,
        make_png,
    )

    j = bytearray(make_jpeg(16, 16, pixels=True))
    i = j.find(b"\xff\xc0")
    hv_off = i + 10  # first component's (h<<4|v) byte in SOF0
    k = bytearray(j); k[hv_off] = 0x00
    assert decode_jpeg_pixels(bytes(k)) is None
    k = bytearray(j); k[i + 9] = 0  # Nf = 0 components
    assert decode_jpeg_pixels(bytes(k)) is None

    p = bytearray(make_png(16, 8, pixels=True))
    k = bytearray(p); k[16:20] = struct.pack(">I", 0)
    assert decode_png_pixels(bytes(k)) is None
    k = bytearray(p); k[16:20] = struct.pack(">I", 0x7FFFFFFF)
    assert decode_png_pixels(bytes(k)) is None

    g = bytearray(make_gif(16, 4))
    i = g.find(b"\x2c")
    k = bytearray(g); k[i + 10] = 1  # LZW min code size below spec
    assert decode_gif_pixels(bytes(k)) is None


def test_range_agg_exact_at_long_max_boundary(spark):
    """Order values hugging Long.MAX: ok + lookback overflows for every
    row — try_add must treat the overflow as 'edge certainly inside
    the lookback' (carry) instead of an ANSI ARITHMETIC_OVERFLOW task
    failure or a wrapped-negative dropped carry."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_range_agg,
    )

    mx = (1 << 63) - 1
    df = spark.createDataFrame(
        [("k", mx - i, 1) for i in range(20)], "k string, t long, v long"
    )
    got = bucketed_range_agg(df, "v", by=["k"], order_col="t", lookback=5,
                             out_col="s", n_buckets=4)
    exp = df.withColumn(
        "s",
        F.sum("v").over(
            Window.partitionBy("k").orderBy("t").rangeBetween(-5, 0)
        ),
    )
    assert sorted((r["t"], r["s"]) for r in got.collect()) == sorted(
        (r["t"], r["s"]) for r in exp.collect()
    )


def test_gif_frame_flood_refused():
    """A hostile stream of thousands of 1x1 image descriptors must hit
    the shared pixels+per-frame budget and map to None, not balloon
    into per-frame Python objects."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_gif_frame_pixels,
        make_gif,
    )

    base = bytearray(make_gif(1, 1, min_code_size=2))
    i = base.find(b"\x2c")
    frame = bytes(base[i:-1])  # descriptor + data, sans trailer
    flood = bytes(base[:i]) + frame * 20_000 + b"\x3b"
    assert decode_gif_frame_pixels(flood) is None


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=10, deadline=None)
def test_range_agg_exact_under_duplicate_sketch_edges(spark, seed):
    """A dominant point mass (≥ 2/n_buckets of a group at one order
    value) makes percentile_approx repeat that value across edges.
    Carries mapped by edge VALUE rank all collapsed onto the first
    duplicate's (empty) bucket, so trailing frames in the buckets
    above the mass silently under-counted (ADVICE r7 high — repro:
    300 rows at t=50, lookback 10 → count 1 instead of 311).
    Position-mapped carries must match the plain window exactly."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_range_agg,
    )

    rng = random.Random(seed)
    lookback = rng.choice([3, 10])
    rows = [("a", i, 50, 1) for i in range(300)]        # the point mass
    rows += [("a", 999, 51, 1)]   # deterministic row just above it —
    # keeps the mass-visibility assertion below non-vacuous for every
    # seed (the random rows may all miss (50, 50+lookback])
    rows += [
        ("a", 300 + i, rng.randrange(0, 100), 1) for i in range(100)
    ]
    # a second group without a mass keeps the per-group sketch honest
    rows += [("b", 400 + i, rng.randrange(0, 100), 1) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, uid long, t long, v long")
    got = bucketed_range_agg(
        df, "v", by=["k"], order_col="t", lookback=lookback,
        out_col="s", count_col="n", n_buckets=rng.choice([8, 32]),
    )
    w = Window.partitionBy("k").orderBy("t").rangeBetween(-lookback, 0)
    ref = df.withColumn("s", F.sum("v").over(w)).withColumn(
        "n", F.count("*").over(w)
    )
    a = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in got.collect()}
    b = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in ref.collect()}
    assert a == b
    # the headline repro, checked directly (not just via the dict
    # equality): every group-a row strictly above the mass and within
    # lookback of it must count all 300 mass rows plus itself — the
    # value-rank carry bug returned single digits here
    tmap = {(k, uid): t for (k, uid, t, _) in rows}
    above = [
        n for (key, (_, n)) in a.items()
        if key[0] == "a" and 50 < tmap[key] <= 50 + lookback
    ]
    assert above and all(n >= 301 for n in above), sorted(above)[:5]


def test_range_agg_rejects_fractional_lookback(spark):
    """rangeBetween frames on int(lookback) while the carry test would
    use the full value — two silently different frames; reject."""
    import pytest as _pytest

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_range_agg,
    )

    df = spark.createDataFrame([("a", 1.0, 1)], "k string, t double, v long")
    with _pytest.raises(ValueError, match="integral"):
        bucketed_range_agg(df, "v", by=["k"], order_col="t", lookback=2.5,
                           out_col="s")
    # integral-valued floats are fine
    out = bucketed_range_agg(df, "v", by=["k"], order_col="t", lookback=2.0,
                             out_col="s", n_buckets=2)
    assert out.collect()[0]["s"] == 1


def test_order_surrogate_date_and_unsupported_types(spark):
    """DateType order columns bucket via unix_date (order-preserving);
    an unsupported order type (e.g. array) raises a clear ValueError at
    the call site instead of an opaque cast failure at execution
    (ADVICE r7)."""
    import datetime

    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_running_agg,
    )

    rows = [
        ("a", datetime.date(2024, 1, 1) + datetime.timedelta(days=i), i)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k string, d date, v long")
    got = bucketed_running_agg(
        df, "v", by=["k"], order_cols=["d"], out_col="s", n_buckets=4
    )
    exp = df.withColumn(
        "s",
        F.sum("v").over(
            Window.partitionBy("k").orderBy("d")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert sorted((r["d"], r["s"]) for r in got.collect()) == sorted(
        (r["d"], r["s"]) for r in exp.collect()
    )

    arr = df.withColumn("bad", F.array("v"))
    with _pytest.raises(ValueError, match="unsupported order column"):
        bucketed_running_agg(
            arr, "v", by=["k"], order_cols=["bad"], out_col="s"
        )


def test_media_stats_survive_null_and_empty_payloads(spark):
    """NULL binary cells arrive in the Arrow batch as None and
    ``bytes(None)`` raises TypeError — the r7 verdict's one `weak`.
    Every pixel/sample/frame stats surface must DROP such rows (the
    never-raise contract: one bad blob must not kill a 100 TB batch),
    and the 1:1 metadata decode must keep them as all-NULL rows with
    NULL byte_len instead."""
    import pandas as pd

    from curw_mike_data_handler_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        avi_frame_pixel_stats,
        avi_meta,
        bmp_pixel_stats,
        decode_media,
        gif_frame_pixel_stats,
        gif_pixel_stats,
        jpeg_pixel_stats,
        make_png,
        media_pixel_stats,
        png_pixel_stats,
        wav_float_sample_stats,
        wav_sample_stats,
    )

    media = spark.createDataFrame(
        pd.DataFrame({
            "media_id": [1, 2, 3],
            "media_type": [None, "image/png", "image/png"],
            "payload": [None, b"", bytearray(make_png(20, 12, pixels=True))],
        }),
        schema=MEDIA_SCHEMA,
    )
    for fn in (media_pixel_stats, png_pixel_stats, jpeg_pixel_stats,
               gif_pixel_stats, bmp_pixel_stats, gif_frame_pixel_stats,
               avi_frame_pixel_stats, avi_meta, wav_sample_stats,
               wav_float_sample_stats):
        ids = {r["media_id"] for r in fn(media).collect()}
        assert None not in ids and 1 not in ids and 2 not in ids, fn.__name__
    assert {r["media_id"] for r in png_pixel_stats(media).collect()} == {3}
    assert {r["media_id"] for r in media_pixel_stats(media).collect()} == {3}

    meta = {r["media_id"]: r.asDict() for r in decode_media(media).collect()}
    assert set(meta) == {1, 2, 3}                  # 1:1, NULL row kept
    assert meta[1]["byte_len"] is None and meta[1]["media_type"] is None
    assert meta[2]["byte_len"] == 0
    assert meta[3]["width"] == 20 and meta[3]["height"] == 12


def test_order_surrogate_ntz_is_monotone_across_dst_gap(spark):
    """Review r8: casting TimestampNTZ to timestamp and taking
    unix_micros inverts order across a DST spring-forward gap (the
    skipped wall hour maps ABOVE the following one under a zoned
    interpretation).  The surrogate must be built from pure field
    extraction so bucket boundaries respect NTZ wall-time order in any
    session zone, and the bucketed running agg must equal the plain
    window on data spanning the gap."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        _order_surrogate,
        bucketed_running_agg,
    )

    # wall times straddling the 2024-03-10 02:00 America/New_York gap
    base = datetime.datetime(2024, 3, 10, 0, 0)
    ts = [base + datetime.timedelta(minutes=15 * i) for i in range(24)]
    rows = [("a", t, i) for i, t in enumerate(ts)]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.createDataFrame(rows, "k string, t timestamp_ntz, v long")
        got = [
            r["s"]
            for r in df.select(_order_surrogate(df, "t").alias("s"))
            .orderBy("t")
            .collect()
        ]
        assert got == sorted(got), "surrogate inverted across the DST gap"

        # post-2038 wall dates must survive too: the day term is LONG
        # (an int32 unix_date * 86400 product overflows under ANSI)
        far = spark.createDataFrame(
            [("a", datetime.datetime(2040, 1, 1, 12, 0), 1)],
            "k string, t timestamp_ntz, v long",
        )
        (fv,) = far.select(_order_surrogate(far, "t").alias("s")).collect()
        assert fv["s"] > 2**31

        out = bucketed_running_agg(
            df, "v", by=["k"], order_cols=["t"], out_col="rs", n_buckets=6
        )
        exp = df.withColumn(
            "rs",
            F.sum("v").over(
                Window.partitionBy("k").orderBy("t")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        assert sorted((r["t"], r["rs"]) for r in out.collect()) == sorted(
            (r["t"], r["rs"]) for r in exp.collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_decoders_accept_none_at_the_decode_layer():
    """r8 review: NULL-safety must be a property of the decoders
    themselves, not of each mapInPandas caller remembering the
    payload-is-None idiom — the next stats wrapper written around any
    decoder gets the guard for free."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_avi_frame_pixels,
        decode_bmp_pixels,
        decode_gif_frame_pixels,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_wav_samples,
        parse_avi_header,
        parse_media_header,
    )

    for fn in (decode_png_pixels, decode_jpeg_pixels, decode_gif_pixels,
               decode_gif_frame_pixels, decode_bmp_pixels,
               decode_wav_samples, decode_avi_frame_pixels,
               parse_avi_header):
        assert fn(None) is None, fn.__name__
    meta = parse_media_header(None)
    assert meta["media_type"] is None and meta["width"] is None


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=8, deadline=None)
def test_range_agg_matches_plain_window_on_double_order(spark, seed):
    """The non-integral order path (carry test in double, frame on the
    same integral lookback) must equal the plain range window too —
    including fractional order values whose [t, t+lookback) carry
    windows straddle bucket edges, and value ties as peers."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        bucketed_range_agg,
    )

    rng = random.Random(seed)
    lookback = rng.choice([2, 7])
    rows = [
        ("a" if rng.random() < 0.7 else "b", i,
         round(rng.uniform(0.0, 60.0) * 4) / 4,    # quarter-step ties
         rng.randrange(-9, 10))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, uid long, t double, v long")
    got = bucketed_range_agg(
        df, "v", by=["k"], order_col="t", lookback=lookback,
        out_col="s", count_col="n", n_buckets=rng.choice([4, 16]),
    )
    w = Window.partitionBy("k").orderBy("t").rangeBetween(-lookback, 0)
    ref = df.withColumn("s", F.sum("v").over(w)).withColumn(
        "n", F.count("*").over(w)
    )
    a = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in got.collect()}
    b = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in ref.collect()}
    assert a == b


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=4, deadline=None)
def test_range_agg_edge_thinning_bounds_carries(spark, seed):
    """r8 verdict #5: on a coarse domain (30 distinct days, n_buckets
    64) the raw sketch's duplicate edges cost ~4.3 carry copies/row.
    The operator now thins edges to a minimum spacing of 2·lookback
    first, so (a) results stay exactly the plain window's, and (b) no
    row can carry into more than ONE extra bucket — verified here by
    recomputing the operator's own carry expression against the
    thinned edges."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import (
        _thin_edges,
        bucketed_range_agg,
    )

    rng = random.Random(seed)
    lookback = rng.choice([2, 5])
    rows = [
        ("k" + str(i % 3), i, rng.randrange(0, 30), rng.randrange(1, 9))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "k string, uid long, t long, v long")
    got = bucketed_range_agg(
        df, "v", by=["k"], order_col="t", lookback=lookback,
        out_col="s", count_col="n", n_buckets=64,
    )
    w = Window.partitionBy("k").orderBy("t").rangeBetween(-lookback, 0)
    ref = df.withColumn("s", F.sum("v").over(w)).withColumn(
        "n", F.count("*").over(w)
    )
    a = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in got.collect()}
    b = {(r["k"], r["uid"]): (r["s"], r["n"]) for r in ref.collect()}
    assert a == b

    # carry bound: for every group's thinned edge set, no length-
    # lookback half-open window may contain two edges (spacing>=2·lb)
    probs = [i / 64 for i in range(1, 64)]
    edges = (
        df.withColumn("__ok", F.col("t").cast("long"))
        .groupBy("k")
        .agg(
            F.percentile_approx(
                "__ok", F.array(*[F.lit(p) for p in probs]), F.lit(10_000)
            ).alias("e")
        )
        .withColumn("e", _thin_edges(F.col("e"), 2 * lookback, True))
        .collect()
    )
    assert edges
    for r in edges:
        es = r["e"]
        assert es == sorted(set(es)), "thinned edges must be ascending+distinct"
        assert all(b_ - a_ >= 2 * lookback for a_, b_ in zip(es, es[1:])), (
            r["k"], es
        )


def test_thin_edges_unit_semantics(spark):
    """_thin_edges keeps the first edge, enforces the spacing, drops
    duplicates at spacing 0, and survives Long.MAX (try_add overflow ⟹
    stop appending instead of raising under ANSI)."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.prefix import _thin_edges

    LMAX = (1 << 63) - 1
    cases = [
        ([5, 5, 5, 10, 11, 12, 20], 4, [5, 10, 20]),
        ([5, 5, 5, 10, 11, 12, 20], 0, [5, 10, 11, 12, 20]),
        ([], 4, []),
        ([7], 100, [7]),
        # last kept edge near Long.MAX: last+spacing overflows → the
        # remaining edges are silently (and exactly) dropped
        ([LMAX - 1, LMAX], 4, [LMAX - 1]),
    ]
    df = spark.createDataFrame(
        [(i, xs) for i, (xs, _, _) in enumerate(cases)],
        "i long, xs array<long>",
    )
    got = {}
    for i, (_, spacing, _) in enumerate(cases):
        row = (
            df.filter(F.col("i") == i)
            .select(_thin_edges(F.col("xs"), spacing, True).alias("o"))
            .collect()[0]
        )
        got[i] = row["o"]
    for i, (_, _, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_bmp_and_avi_survive_hostile_single_fields():
    """r8 verdict note #1 (the r7 #8 leftover): extend the
    hostile-single-field device to BMP (biBitCount 0/1/32, biWidth 0,
    absurd biHeight) and to the AVI strf BITMAPINFOHEADER (zero dims,
    zero/absurd bit depth) — a VALID container with one pathological
    field must map to None / no frames, never raise."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_avi_frame_pixels,
        decode_bmp_pixels,
        make_avi,
        make_bmp,
    )

    b = make_bmp(16, 8)
    assert decode_bmp_pixels(b) is not None  # baseline sanity

    def flip_bmp(off, fmt, val):
        k = bytearray(b)
        k[off:off + struct.calcsize(fmt)] = struct.pack(fmt, val)
        return bytes(k)

    for bits in (0, 1, 32):          # biBitCount @28: only 24 supported
        assert decode_bmp_pixels(flip_bmp(28, "<H", bits)) is None, bits
    assert decode_bmp_pixels(flip_bmp(18, "<i", 0)) is None          # biWidth=0
    assert decode_bmp_pixels(flip_bmp(18, "<i", -16)) is None        # negative
    assert decode_bmp_pixels(flip_bmp(22, "<i", 0)) is None          # biHeight=0
    assert decode_bmp_pixels(flip_bmp(22, "<i", 0x7FFFFFFF)) is None # absurd
    assert decode_bmp_pixels(flip_bmp(10, "<I", len(b))) is None     # offset→EOF
    # compression != BI_RGB refused
    assert decode_bmp_pixels(flip_bmp(30, "<I", 1)) is None          # RLE8

    a = make_avi(16, 8, n_frames=2, rgb=True)
    frames = decode_avi_frame_pixels(a, every_n=1)
    assert frames  # baseline sanity

    i = a.find(b"strf") + 8  # past tag + size: BITMAPINFOHEADER start
    assert i > 8

    def flip_avi(off, fmt, val):
        k = bytearray(a)
        k[off:off + struct.calcsize(fmt)] = struct.pack(fmt, val)
        return decode_avi_frame_pixels(bytes(k), every_n=1)

    hostile = [
        (i + 4, "<i", 0),            # strf biWidth = 0
        (i + 4, "<i", -16),          # negative width
        (i + 8, "<i", 0),            # strf biHeight = 0
        (i + 8, "<i", 0x7FFFFFFF),   # absurd height
        (i + 14, "<H", 0),           # biBitCount = 0
        (i + 14, "<H", 32),          # unsupported depth
    ]
    for off, fmt, val in hostile:
        out = flip_avi(off, fmt, val)
        # the container is still a well-formed AVI: the decoder may
        # return None or an empty/filtered frame list, but never raise
        # and never fabricate pixel stats from impossible dims
        assert not out, (off, val, out)


# ---------------------------------------------------------------------------
# TIFF: baseline uncompressed strips (r9)


def test_tiff_hand_derived_vectors():
    """Codec twins must be pinned by HAND-PACKED byte vectors, not just
    round-trip (the GIF LZW lesson: a shared-wrong convention
    self-validates).  Two 2x1 images written out field by field from
    the TIFF 6.0 spec — II with out-of-line BitsPerSample, MM with a
    grayscale single sample (a shape make_tiff never emits) — must
    decode to the exact pixels."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pixels,
    )

    # --- little-endian 2x1 RGB, pixels (R,G,B) = (1,2,3),(4,5,6) ----
    # layout: header(8) strip(6) bps(6) IFD
    strip = bytes([1, 2, 3, 4, 5, 6])
    bps_off = 8 + 6            # = 14
    ifd_off = 14 + 6           # = 20
    ent = lambda t, ty, c, v4: struct.pack("<HHI", t, ty, c) + v4
    s2 = lambda v: struct.pack("<HH", v, 0)   # SHORT left-justified
    l4 = lambda v: struct.pack("<I", v)
    ifd = struct.pack("<H", 8) + b"".join([
        ent(256, 3, 1, s2(2)),         # ImageWidth SHORT (inline)
        ent(257, 4, 1, l4(1)),         # ImageLength LONG
        ent(258, 3, 3, l4(bps_off)),   # BitsPerSample -> offset
        ent(259, 3, 1, s2(1)),         # Compression = none
        ent(262, 3, 1, s2(2)),         # Photometric = RGB
        ent(273, 4, 1, l4(8)),         # StripOffsets (single, inline)
        ent(277, 3, 1, s2(3)),         # SamplesPerPixel
        ent(279, 4, 1, l4(6)),         # StripByteCounts
    ]) + struct.pack("<I", 0)
    ii = b"II\x2a\x00" + struct.pack("<I", ifd_off) + strip \
        + struct.pack("<HHH", 8, 8, 8) + ifd
    got = decode_tiff_pixels(ii)
    assert got == {"width": 2, "height": 1, "n_px": 2,
                   "pixel_sum": 21, "pixel_max": 6}, got

    # --- big-endian 2x2 GRAYSCALE (BlackIsZero), two strips ---------
    # pixels rows: [7, 9], [11, 250]; RowsPerStrip = 1
    s1, s2b = bytes([7, 9]), bytes([11, 250])
    # header(8) strips(2+2) offs(8) cnts(8) IFD
    so_off, sc_off = 12, 20
    ifd_off = 28
    entb = lambda t, ty, c, v4: struct.pack(">HHI", t, ty, c) + v4
    s2e = lambda v: struct.pack(">HH", v, 0)
    l4e = lambda v: struct.pack(">I", v)
    ifdb = struct.pack(">H", 9) + b"".join([
        entb(256, 4, 1, l4e(2)),
        entb(257, 4, 1, l4e(2)),
        entb(258, 3, 1, s2e(8)),        # single SHORT, inline
        entb(259, 3, 1, s2e(1)),
        entb(262, 3, 1, s2e(1)),        # BlackIsZero grayscale
        entb(273, 4, 2, l4e(so_off)),
        entb(277, 3, 1, s2e(1)),
        entb(278, 4, 1, l4e(1)),        # RowsPerStrip = 1
    ]) + b"\x01\x17" + struct.pack(">HI", 4, 2) \
        + struct.pack(">I", sc_off)     # 279 StripByteCounts LONG 2
    # NOTE: entry above packed manually: tag 0x0117 (279), type 4,
    # count 2, offset sc_off — spelled byte-for-byte on purpose
    mm = b"MM\x00\x2a" + struct.pack(">I", ifd_off) + s1 + s2b \
        + struct.pack(">II", 8, 10) + struct.pack(">II", 2, 2) \
        + ifdb + struct.pack(">I", 0)
    got = decode_tiff_pixels(mm)
    assert got == {"width": 2, "height": 2, "n_px": 4,
                   "pixel_sum": 277, "pixel_max": 250}, got


def test_tiff_survives_hostile_single_fields():
    """One pathological field in an otherwise-valid TIFF must map to
    None, never raise or fabricate stats: unsupported compression,
    16-bit samples, zero/absurd dims, short strips, zero RowsPerStrip,
    planar configuration 2, IFD offset past EOF."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pixels,
        make_tiff,
    )

    b = make_tiff(16, 16, rows_per_strip=8)  # II, 2 strips
    assert decode_tiff_pixels(b) is not None

    (ifd_off,) = struct.unpack("<I", b[4:8])
    (n,) = struct.unpack("<H", b[ifd_off:ifd_off + 2])
    field_off = {}
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag, = struct.unpack("<H", b[e:e + 2])
        field_off[tag] = e

    def flip(tag, typ, count, value4):
        k = bytearray(b)
        e = field_off[tag]
        k[e:e + 12] = struct.pack("<HHI", tag, typ, count) + value4
        return decode_tiff_pixels(bytes(k))

    s2 = lambda v: struct.pack("<HH", v, 0)
    l4 = lambda v: struct.pack("<I", v)
    assert flip(259, 3, 1, s2(5)) is None          # LZW compression
    assert flip(258, 3, 3, l4(10**6)) is None      # bps offset OOB
    assert flip(256, 4, 1, l4(0)) is None          # width 0
    assert flip(256, 4, 1, l4(1 << 25)) is None    # w*h over cap
    assert flip(257, 4, 1, l4(0)) is None          # height 0
    assert flip(277, 3, 1, s2(2)) is None          # 2 samples/px
    assert flip(278, 4, 1, l4(0)) is None          # RowsPerStrip 0
    assert flip(278, 4, 1, l4(3)) is None          # strip count mismatch

    # planar configuration 2: make_tiff never writes tag 284, so build
    # a 2x1 RGB II vector with an explicit planar entry — planar=1
    # must decode (guard not vacuous), planar=2 must refuse
    def planar_tiff(planar):
        strip = bytes([1, 2, 3, 4, 5, 6])
        bps_off, ifd_off = 14, 20
        ent = lambda t, ty, c, v4: struct.pack("<HHI", t, ty, c) + v4
        sv = lambda v: struct.pack("<HH", v, 0)
        lv = lambda v: struct.pack("<I", v)
        ifd = struct.pack("<H", 9) + b"".join([
            ent(256, 3, 1, sv(2)),
            ent(257, 4, 1, lv(1)),
            ent(258, 3, 3, lv(bps_off)),
            ent(259, 3, 1, sv(1)),
            ent(262, 3, 1, sv(2)),
            ent(273, 4, 1, lv(8)),
            ent(277, 3, 1, sv(3)),
            ent(279, 4, 1, lv(6)),
            ent(284, 3, 1, sv(planar)),
        ]) + struct.pack("<I", 0)
        return (b"II\x2a\x00" + struct.pack("<I", ifd_off) + strip
                + struct.pack("<HHH", 8, 8, 8) + ifd)

    assert decode_tiff_pixels(planar_tiff(1)) is not None
    assert decode_tiff_pixels(planar_tiff(2)) is None
    # 16-bit samples: patch the out-of-line bps array instead
    (bps_ptr,) = struct.unpack("<I", b[field_off[258] + 8:field_off[258] + 12])
    k = bytearray(b)
    k[bps_ptr:bps_ptr + 6] = struct.pack("<HHH", 16, 16, 16)
    assert decode_tiff_pixels(bytes(k)) is None
    # IFD offset past EOF
    k = bytearray(b)
    k[4:8] = struct.pack("<I", len(b) + 100)
    assert decode_tiff_pixels(bytes(k)) is None
    # truncated final strip (shrink the last byte count)
    e279 = field_off[279]
    typ, cnt = struct.unpack("<HI", b[e279 + 2:e279 + 8])
    (ptr,) = struct.unpack("<I", b[e279 + 8:e279 + 12])
    k = bytearray(b)
    (last,) = struct.unpack("<I", b[ptr + 4 * (cnt - 1):ptr + 4 * cnt])
    k[ptr + 4 * (cnt - 1):ptr + 4 * cnt] = struct.pack("<I", last - 3)
    assert decode_tiff_pixels(bytes(k)) is None


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=25, deadline=None)
def test_tiff_roundtrip_matches_independent_raster(seed):
    """make_tiff → decode_tiff_pixels equals an independent numpy
    recomputation of the closed form for random dims / phase / byte
    order / strip heights (incl. single-strip and strip-per-row)."""
    import random

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pixels,
        make_tiff,
    )

    rng = random.Random(seed)
    w, h = rng.randint(1, 50), rng.randint(1, 40)
    f = rng.randint(0, 3)
    be = rng.random() < 0.5
    rps = rng.choice([1, 3, 8, h, 10**6])
    got = decode_tiff_pixels(make_tiff(w, h, f, big_endian=be,
                                       rows_per_strip=rps))
    x = np.arange(w)
    y = np.arange(h)
    ch = np.arange(3)
    vals = ((x[None, :, None] % 16) + 2 * (y[:, None, None] % 8)
            + 37 * ch[None, None, :] + 11 * (f % 4))
    assert got == {
        "width": w, "height": h, "n_px": w * h,
        "pixel_sum": int(vals.sum()), "pixel_max": int(vals.max()),
    }, (w, h, f, be, rps, got)


# ---------------------------------------------------------------------------
# TIFF PackBits (r9 roadmap #5)
# ---------------------------------------------------------------------------


def test_packbits_hand_derived_vectors():
    """The decoder is pinned by the TIFF 6.0 spec's OWN worked example
    (§9, the Apple PackBits sample) — a shared-wrong control-byte
    convention between encoder and decoder would round-trip but cannot
    reproduce the spec's packed bytes.  Plus the two semantic corners
    the example doesn't cover: the 0x80 no-op and a maximal 128-byte
    replicate (control 0x81)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    unpacked = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22AAAAAAAAAAAAAAAAAAAA"
    )
    assert _packbits_decode(packed, len(unpacked)) == unpacked
    # encoder must round-trip the same data within the spec's
    # worst-case bound (it may legally pack differently)
    enc = _packbits_encode(unpacked)
    assert _packbits_decode(enc, len(unpacked)) == unpacked
    assert len(enc) <= len(unpacked) + (len(unpacked) + 127) // 128

    assert _packbits_decode(b"\x80\x80\xfe\x41", 3) == b"AAA"  # no-ops skipped
    assert _packbits_decode(b"\x81\x5a", 128) == b"Z" * 128    # max replicate
    assert _packbits_decode(b"\x7f" + bytes(range(128)), 128) == bytes(range(128))


def test_packbits_decode_strict_contract():
    """None on truncation/overrun/short stream; trailing pad bytes
    after the expected length are tolerated but never decoded."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _packbits_decode,
    )

    assert _packbits_decode(b"", 1) is None                   # empty
    assert _packbits_decode(b"\x05ab", 6) is None             # truncated literal
    assert _packbits_decode(b"\xfe", 3) is None               # replicate w/o byte
    assert _packbits_decode(b"\xf0\x41", 3) is None           # overrun (17 > 3)
    assert _packbits_decode(b"\x02abc", 2) is None            # literal overrun
    assert _packbits_decode(b"\x80\x80", 1) is None           # only no-ops
    assert _packbits_decode(b"\x00a" + b"\xffPAD", 1) == b"a"  # trailing pad ok
    assert _packbits_decode(b"\x00a", 0) == b""               # zero expected


def test_packbits_literal_cap_at_pseudo_run():
    """Review-found encoder bug, pinned: absorbing a 2-byte pseudo-run
    at literal offset 127 must NOT grow the packet to 129 bytes —
    control byte 128 is the spec's no-op, so the stream would be
    undecodable.  The clamp splits the pseudo-run across packets."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    raw = bytes(range(127)) + b"\xc8\xc8" + b"\x01\x02\x03"
    enc = _packbits_encode(raw)
    assert enc[0] != 128  # first control byte must be a real packet
    assert _packbits_decode(enc, len(raw)) == raw
    # sweep every literal-prefix length around the cap
    for pre in range(120, 135):
        raw = bytes(i % 251 for i in range(pre)) + b"\xc8\xc8" + b"\x07"
        enc = _packbits_encode(raw)
        assert _packbits_decode(enc, len(raw)) == raw, pre


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=40, deadline=None)
def test_packbits_roundtrip_and_bound(seed):
    """Round-trip over run-heavy + literal-heavy mixtures, and the
    §9 worst-case size bound (no pathological expansion)."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    rng = random.Random(seed)
    raw = bytearray()
    target = rng.randrange(0, 900)
    while len(raw) < target:
        if rng.random() < 0.5:
            raw += bytes([rng.randrange(256)]) * rng.randrange(1, 300)
        else:
            raw += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 50)))
    raw = bytes(raw[:target])
    enc = _packbits_encode(raw)
    assert _packbits_decode(enc, len(raw)) == raw
    assert len(enc) <= len(raw) + (len(raw) + 127) // 128 + 1


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=25, deadline=None)
def test_tiff_packbits_twin_matches_uncompressed(seed):
    """A PackBits TIFF must decode to the identical stats as its
    uncompressed twin for random dims / phase / byte order / strip
    heights — including strip layouts whose FINAL strip is short
    (the per-strip expected-size path)."""
    import random

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pixels,
        make_tiff,
    )

    rng = random.Random(seed)
    w, h = rng.randint(1, 50), rng.randint(1, 40)
    f = rng.randint(0, 3)
    be = rng.random() < 0.5
    rps = rng.choice([1, 3, 6, 8, h, 10**6])
    plain = decode_tiff_pixels(make_tiff(w, h, f, big_endian=be,
                                         rows_per_strip=rps))
    packed = decode_tiff_pixels(make_tiff(w, h, f, big_endian=be,
                                          rows_per_strip=rps,
                                          compression="packbits"))
    assert plain is not None and packed == plain, (w, h, f, be, rps)


def test_tiff_packbits_hostile_fields():
    """Hostile single fields specific to the compressed path: a
    PackBits stream whose Compression tag claims 'none' must fail the
    byte-count check (never decode garbage); truncating the packed
    payload maps to None; LZW (5) and old-JPEG (6) stay refused."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pixels,
        make_tiff,
    )

    b = make_tiff(16, 16, rows_per_strip=6, compression="packbits")
    assert decode_tiff_pixels(b) is not None

    (ifd_off,) = struct.unpack("<I", b[4:8])
    (n,) = struct.unpack("<H", b[ifd_off:ifd_off + 2])
    field_off = {}
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag, = struct.unpack("<H", b[e:e + 2])
        field_off[tag] = e

    def flip_comp(v):
        k = bytearray(b)
        e = field_off[259]
        k[e:e + 12] = struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", v, 0)
        return decode_tiff_pixels(bytes(k))

    assert flip_comp(1) is None   # packed bytes can't pass the raw count
    assert flip_comp(5) is None   # LZW refused
    assert flip_comp(6) is None   # old-style JPEG refused
    # corrupt the first strip's first control byte to a 128-literal:
    # the RLE cursor overruns the strip's byte count → None (and the
    # never-raise contract holds either way)
    k = bytearray(b)
    k[8] = 0x7F
    out = decode_tiff_pixels(bytes(k))
    assert out is None or isinstance(out, dict)
    # hard truncation of the whole stream mid-strip
    assert decode_tiff_pixels(b[:12]) is None


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=25, deadline=None)
def test_tiff_multipage_chain_matches_independent_raster(seed):
    """Multi-IFD chain walk: every page decodes to the independent
    numpy recomputation, in chain order, for random page counts /
    dims / byte order / compression — and the single-page builder is
    literally the one-page case of the multipage one."""
    import random

    import numpy as np

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pages,
        decode_tiff_pixels,
        make_multipage_tiff,
    )

    rng = random.Random(seed)
    pages = [
        (rng.randint(1, 40), rng.randint(1, 30), rng.randint(0, 3))
        for _ in range(rng.randint(1, 6))
    ]
    be = rng.random() < 0.5
    comp = rng.choice(["none", "packbits"])
    rps = rng.choice([1, 3, 6, 8, 10**6])
    b = make_multipage_tiff(pages, big_endian=be, rows_per_strip=rps,
                            compression=comp)

    def expect(w, h, f):
        x = np.arange(w)
        y = np.arange(h)
        ch = np.arange(3)
        v = ((x[None, :, None] % 16) + 2 * (y[:, None, None] % 8)
             + 37 * ch[None, None, :] + 11 * (f % 4))
        return {"width": w, "height": h, "n_px": w * h,
                "pixel_sum": int(v.sum()), "pixel_max": int(v.max())}

    assert decode_tiff_pages(b) == [expect(*p) for p in pages]
    assert decode_tiff_pixels(b) == expect(*pages[0])


def test_tiff_multipage_hostile_chain():
    """Chain-specific hostility: a cycle, an over-budget chain, a
    truncated tail page, and a next-pointer into the weeds all map the
    whole payload to None (half-walked chains must not masquerade as
    shorter documents)."""
    import struct

    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_tiff_pages,
        make_multipage_tiff,
    )

    pages = [(16, 8, 0), (32, 16, 1)]
    b = make_multipage_tiff(pages)
    assert len(decode_tiff_pages(b)) == 2

    # cycle: final next pointer back at the first IFD
    (first_ifd,) = struct.unpack("<I", b[4:8])
    k = bytearray(b)
    k[-4:] = struct.pack("<I", first_ifd)
    assert decode_tiff_pages(bytes(k)) is None
    # self-loop on the first page
    k = bytearray(b)
    k[-4:] = struct.pack("<I", len(b) - 4)  # next -> inside own IFD
    assert decode_tiff_pages(bytes(k)) is None
    # pointer past EOF
    k = bytearray(b)
    k[-4:] = struct.pack("<I", len(b) + 99)
    assert decode_tiff_pages(bytes(k)) is None
    # over the page budget: refused, not truncated
    many = make_multipage_tiff([(16, 8, p % 4) for p in range(20)])
    assert decode_tiff_pages(many, max_pages=16) is None
    assert len(decode_tiff_pages(many, max_pages=20)) == 20
    # truncation inside the second page
    assert decode_tiff_pages(b[: len(b) - 10]) is None
