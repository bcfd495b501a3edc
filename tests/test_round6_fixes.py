"""Round-6 regression tests for the ADVICE.md findings:

1. DBSCAN subcell contraction must use floor-semantics bucketing — the
   trunc-toward-zero bucket straddling 0 is ~eps*sqrt(2) wide and
   merged clusters separated by more than eps.
2. token_bucket_throttle's output schema follows key_col.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ------------------------------------------------------ DBSCAN floor


def test_dbscan_negative_coords_do_not_merge_across_origin(spark):
    """Two core blobs at x≈-16 and x≈+16 (eps=25 → sub=17): trunc
    bucketing put both in subcell 0 (span (-17,17)) and contracted
    them to one cluster; floor bucketing keeps them apart.  Verified
    against the same brute-force comparator the sf tests use."""
    from curw_mike_data_handler_spark.operators.density import dbscan_grid
    from tests.test_round5b_ops import _dbscan_bruteforce

    pts = (
        [(1, -16, 0), (2, -16, 1), (3, -15, 0), (4, -15, 1)]
        + [(11, 16, 0), (12, 16, 1), (13, 15, 0), (14, 15, 1)]
    )
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan_grid(df, eps=25, min_pts=4).collect()
    }
    want = _dbscan_bruteforce(pts, eps=25, min_pts=4)
    assert got == want
    # the scenario is two DISTINCT clusters
    assert len({c for (_, c) in got.values() if c is not None}) == 2


def test_dbscan_negative_coords_match_bruteforce_mixed(spark):
    from curw_mike_data_handler_spark.operators.density import dbscan_grid
    from tests.test_round5b_ops import _dbscan_bruteforce

    # blob spanning the origin + blob in the negative quadrant + noise
    pts = (
        [(1, -2, -2), (2, -1, 1), (3, 1, -1), (4, 2, 2)]
        + [(11, -40, -40), (12, -41, -40), (13, -40, -41), (14, -42, -42)]
        + [(21, -40, 40)]
    )
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan_grid(df, eps=6, min_pts=4).collect()
    }
    assert got == _dbscan_bruteforce(pts, eps=6, min_pts=4)


# -------------------------------------------- token bucket key_col


def test_token_bucket_output_schema_follows_key_col(spark):
    from curw_mike_data_handler_spark.operators.ratelimit import (
        token_bucket_throttle,
    )

    ev = spark.createDataFrame(
        [("dev-a", "2024-01-01 00:00:00", 1, 100),
         ("dev-a", "2024-01-01 00:00:05", 2, 100),
         ("dev-b", "2024-01-01 00:00:00", 3, 50)],
        "device string, ts string, event_id long, cost long",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = token_bucket_throttle(
        ev, key_col="device", capacity_cents=150, rate_cents_per_ks=0
    )
    assert out.columns[0] == "device"
    assert dict(out.dtypes)["device"] == "string"
    rows = {r["device"]: r for r in out.collect()}
    assert rows["dev-a"].n_admitted == 1 and rows["dev-a"].n_throttled == 1
    assert rows["dev-b"].n_admitted == 1


def test_jpeg_marker_walk_skips_fill_bytes():
    """T.81 B.1.1.2 fill bytes (0xFF padding before a marker) must not
    derail the segment walk."""
    from curw_mike_data_handler_spark.operators.multimodal import (
        decode_jpeg_pixels,
        make_jpeg,
    )

    b = make_jpeg(24, 16, pixels=True)
    i = b.index(b"\xff\xdb")
    padded = b[:i] + b"\xff\xff" + b[i:]
    assert decode_jpeg_pixels(padded) == decode_jpeg_pixels(b)


def test_all_stations_raw_rejects_duplicate_display_names(tmp_path):
    """Two stations sharing a display name would silently merge their
    series in the per-name pivot — the CLI rejects the CSV instead."""
    import csv as _csv

    import pytest

    from curw_mike_data_handler_spark.jobs.all_stations_raw import (
        read_mike_stations,
    )

    p = tmp_path / "st.csv"
    with open(p, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["hash_id", "station_id", "station_name", "latitude", "longitude"])
        w.writerow(["a" * 64, "100", "Colombo", "6.9", "79.8"])
        w.writerow(["b" * 64, "101", "Colombo", "6.95", "79.85"])
    with pytest.raises(ValueError, match="duplicate station display names"):
        read_mike_stations(str(p))
