"""Seeded, reference-shaped inputs for the production-tick benchmark.

Everything here is plain Python (``random.Random(seed)``) written with
pyarrow / the csv module, so the same seed gives byte-identical files on
any host and no Spark job runs while inputs are made.  Shapes follow
FIXTURES.md:

* cron inputs: 46 rainfall stations on a 5-min grid with gaps, negative
  (invalid) readings; a catchment coefficient CSV with several stations
  per catchment; a tide series with -99999 sentinels and a discharge
  series with negatives, both on a 15-min grid;
* extract inputs: a 53-row station dimension and, per tick, a
  ``resmike11_WL.csv`` matrix of 48 station columns (one of them absent
  from the dimension) on a 15-min grid over 5 days;
* catalog inputs: the TPC-H-ish tables the pinned catalog queries read,
  at the row counts of the sf0.01 test data.

Rainfall is quantised to the 0.5 mm tip of a tipping-bucket gauge and
catchment weights are sixteenths, so the jobs' sums are exact in binary
floating point; only the rainfall job's row-mean imputation (a division
by a station count) leaves last digits that depend on the order Spark
adds values in.
"""

from __future__ import annotations

import csv
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2020, 5, 22, 0, 0, 0)  # resources/resmike11_WL.csv:2
WINDOW = timedelta(days=5)
CRON_TICK = timedelta(hours=1)
EXTRACT_TICK = timedelta(minutes=30)
# hourly windows cycle through this many distinct offsets, so the input
# series need only cover WINDOW + CRON_CYCLE hours
CRON_CYCLE = 72
TIME_FMT = "%Y-%m-%d %H:%M:%S"

N_RAIN_STATIONS = 46  # inputs/params/mike_rainfall_stations.csv
N_OBS_STATIONS = 20  # registry behind the observed-rainfall job
N_CATCHMENTS = 40
N_DIM_STATIONS = 53  # resources/mike_stations.csv
N_RESULT_COLUMNS = 48  # resources/resmike11_WL.csv
CATALOG_TABLES = ("lineitem", "orders", "part", "supplier", "nation", "events")

SIM_TS = pa.schema([("id", pa.string()), ("time", pa.timestamp("us")), ("value", pa.float64())])
STATIONS = pa.schema(
    [
        ("hash_id", pa.string()),
        ("station_id", pa.string()),
        ("station_name", pa.string()),
        ("latitude", pa.float64()),
        ("longitude", pa.float64()),
    ]
)
RUN = pa.schema(
    [
        ("id", pa.string()),
        ("model", pa.string()),
        ("grid_id", pa.string()),
        ("obs_end", pa.timestamp("us")),
    ]
)
STATION_DIM = pa.schema(
    [
        ("station_id", pa.int32()),
        ("name", pa.string()),
        ("latitude", pa.float64()),
        ("longitude", pa.float64()),
        ("station_type", pa.string()),
        ("description", pa.string()),
    ]
)


def series_hash(rng: random.Random) -> str:
    return f"{rng.getrandbits(256):064x}"


def grid(start: datetime, end: datetime, step: timedelta) -> list[datetime]:
    out, t = [], start
    while t <= end:
        out.append(t)
        t += step
    return out


def _write_parquet(rows: list[tuple], schema: pa.Schema, path: str) -> str:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path)
    return path


def _write_csv(header: list[str], rows: list[tuple], path: str) -> str:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)
    return path


# ---------------------------------------------------------------------------
# cron_inputs
# ---------------------------------------------------------------------------


def cron_window(tick: int) -> tuple[str, str]:
    """The tick's job window: moves forward one hour per tick, over a
    cycle of CRON_CYCLE offsets (every window is a whole hour, so the
    hours-only rf_obs validation accepts it too)."""
    start = T0 + CRON_TICK * (tick % CRON_CYCLE)
    return start.strftime(TIME_FMT), (start + WINDOW).strftime(TIME_FMT)


def _rain_value(rng: random.Random, wet: float) -> float | None:
    """One 5-min gauge reading: None is a gap (missing row), a negative
    reading is an invalid value the jobs clean out."""
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.11:
        return -0.5 * rng.randint(1, 6)
    if rng.random() < wet:
        return 0.5 * rng.randint(1, 8)
    return 0.0


def make_cron_inputs(root: str, seed: int) -> dict:
    """Write the five input jobs' sources under ``root``; return their
    paths plus the orders the output headers must follow."""
    rng = random.Random(f"cron-{seed}")
    os.makedirs(root, exist_ok=True)
    end = T0 + WINDOW + CRON_TICK * CRON_CYCLE

    stations = []
    for i in range(N_RAIN_STATIONS):
        sid = str(100001 + i * 7)
        stations.append(
            (
                series_hash(rng),
                sid,
                f"rf station {i:02d}",
                round(6.8 + rng.random() * 0.3, 6),
                round(79.8 + rng.random() * 0.9, 6),
            )
        )

    rows = []
    for hash_id, *_ in stations:
        wet = rng.uniform(0.05, 0.3)
        for t in grid(T0, end, timedelta(minutes=5)):
            v = _rain_value(rng, wet)
            if v is not None:
                rows.append((hash_id, t, v))
    sim_ts = _write_parquet(rows, SIM_TS, os.path.join(root, "sim_ts.parquet"))

    run_rows = [
        (h, "hechms", f"rainfall_{sid}_{name.replace(' ', '')}", end)
        for h, sid, name, _, _ in stations
    ]
    # other models share the registry and must be filtered out
    run_rows += [(series_hash(rng), "wrf", f"rainfall_{900000 + i}_wrf", end) for i in range(4)]
    run = _write_parquet(run_rows, RUN, os.path.join(root, "run.parquet"))

    # catchment weights: several member stations each, weights k/16
    # summing to exactly 1 (dyadic, so the weighted sums stay exact)
    coeff_rows = []
    names = [f"C_{i:02d}{'AB'[i % 2]}" for i in range(N_CATCHMENTS)]
    rng.shuffle(names)  # file order, not sorted order, fixes the header
    for name in names:
        members = rng.sample(stations, rng.randint(3, 7))
        cuts = sorted(rng.sample(range(1, 16), len(members) - 1))
        weights = [(b - a) / 16 for a, b in zip([0] + cuts, cuts + [16])]
        coeff_rows += [(name, m[1], w) for m, w in zip(members, weights)]
    coefficients = _write_csv(
        ["name", "curw_obs_id", "coefficient"], coeff_rows, os.path.join(root, "sb_rf_coefficients.csv")
    )

    mike = list(stations)
    rng.shuffle(mike)
    mike_csv = _write_csv(
        ["hash_id", "station_id", "station_name", "latitude", "longitude"],
        mike,
        os.path.join(root, "mike_rainfall_stations.csv"),
    )
    active = rng.sample(stations, 30)
    active_obs = _write_parquet(active, STATIONS, os.path.join(root, "active_obs.parquet"))
    registry = rng.sample(stations, N_OBS_STATIONS)
    obs_stations = _write_parquet(registry, STATIONS, os.path.join(root, "obs_stations.parquet"))

    quarter = grid(T0, end, timedelta(minutes=15))
    tide_id, dis_id = series_hash(rng), series_hash(rng)
    tide_rows, dis_rows = [], []
    for k, t in enumerate(quarter):
        r = rng.random()
        if r >= 0.08:  # gap otherwise
            v = -99999.0 if r < 0.13 else round(0.6 * rng.random() - 0.1 + 0.3 * (k % 50) / 50, 3)
            tide_rows.append((tide_id, t, v))
        r = rng.random()
        if r >= 0.08:
            v = round(-rng.random() * 20, 3) if r < 0.12 else round(50 + 400 * rng.random(), 3)
            dis_rows.append((dis_id, t, v))
    tide = _write_parquet(tide_rows, SIM_TS, os.path.join(root, "tide.parquet"))
    discharge = _write_parquet(dis_rows, SIM_TS, os.path.join(root, "discharge.parquet"))

    return {
        "sim_ts": sim_ts,
        "run": run,
        "coefficients": coefficients,
        "mike_stations": mike_csv,
        "active_obs": active_obs,
        "obs_stations": obs_stations,
        "tide": tide,
        "discharge": discharge,
        "catchment_order": list(dict.fromkeys(n for n, _, _ in coeff_rows)),
        "mike_order": [s[2] for s in mike],
        "obs_order": sorted(s[1] for s in registry),
    }


# ---------------------------------------------------------------------------
# extract_growth
# ---------------------------------------------------------------------------


def extract_fgt(tick: int) -> str:
    """Forecast-generated time of extract tick ``tick`` (every 30 min)."""
    return (T0 + timedelta(hours=6) + EXTRACT_TICK * tick).strftime(TIME_FMT)


def make_extract_inputs(root: str, seed: int) -> dict:
    """Station dimension (written straight into the warehouse layout the
    extract job reads) plus the generator state for per-tick matrices."""
    rng = random.Random(f"extract-{seed}")
    os.makedirs(root, exist_ok=True)
    rivers = ["Kelani", "Kalu", "Gin", "Nilwala", "Attanagalu", "Maha"]
    names = [f"{rivers[i % len(rivers)]} Ganga {i:02d}" for i in range(N_DIM_STATIONS)]
    dim = [
        (
            1000 + i,
            name,
            round(6.7 + rng.random() * 0.5, 6),
            round(79.8 + rng.random() * 0.6, 6),
            "MIKE11",
            None,
        )
        for i, name in enumerate(names)
    ]
    warehouse = os.path.join(root, "warehouse")
    os.makedirs(os.path.join(warehouse, "station"), exist_ok=True)
    _write_parquet(dim, STATION_DIM, os.path.join(warehouse, "station", "part-0.parquet"))
    # 47 result columns the dimension knows plus one it does not: the
    # job's skip report must name exactly that one
    columns = rng.sample(names, N_RESULT_COLUMNS - 1) + ["Unlisted Outfall"]
    rng.shuffle(columns)
    levels = {c: (rng.uniform(0.2, 6.0), rng.uniform(0.05, 1.5)) for c in columns}
    return {
        "warehouse": warehouse,
        "results_root": os.path.join(root, "results"),
        "columns": columns,
        "levels": levels,
        "seed": seed,
        "station_ids": {name: sid for sid, name, *_ in dim},
        "missing": "Unlisted Outfall",
    }


def write_result_matrix(ext: dict, tick: int) -> tuple[str, list[list[str]]]:
    """Write tick ``tick``'s ``resmike11_WL.csv`` (15-min grid over 5
    days starting at the tick's fgt) into a fresh result directory;
    return the directory and the written rows."""
    rng = random.Random(f"extract-{ext['seed']}-{tick}")
    fgt = datetime.strptime(extract_fgt(tick), TIME_FMT)
    out_dir = os.path.join(ext["results_root"], f"tick{tick:04d}")
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for k, t in enumerate(grid(fgt, fgt + WINDOW, timedelta(minutes=15))):
        row = [t.strftime(TIME_FMT)]
        for c in ext["columns"]:
            base, amp = ext["levels"][c]
            wave = amp * ((k % 50) - 25) / 25
            # discharge-like negatives are kept on the output path
            row.append(f"{base + wave + rng.uniform(-0.2, 0.2) - 0.3:.5f}")
        rows.append(row)
    _write_csv(["Time Stamp"] + ext["columns"], rows, os.path.join(out_dir, "resmike11_WL.csv"))
    return out_dir, rows


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------


def _day(rng: random.Random, lo: datetime, days: int) -> datetime:
    return lo + timedelta(days=rng.randrange(days))


def make_catalog_inputs(root: str, seed: int, *, orders: int = 15000) -> str:
    """TPC-H-ish tables with the column layout and, by default, the row
    counts of the sf0.01 test data (15000 orders, about 60000 line items,
    2000 parts, 100 suppliers, 10000 events), written from ``seed``
    because the benchmark reads nothing outside its checkout; returns the
    directory ``catalog.QUERIES[name]`` reads."""
    rng = random.Random(f"catalog-{seed}")
    os.makedirs(root, exist_ok=True)
    ts = pa.timestamp("us")

    nation = [(i, f"NATION_{i}", i % 5) for i in range(25)]
    _write_parquet(
        nation,
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
        os.path.join(root, "nation.parquet"),
    )
    supplier = [(i, f"Supplier#{i:09d}", rng.randrange(25), round(rng.uniform(-999, 9999), 2)) for i in range(100)]
    _write_parquet(
        supplier,
        pa.schema(
            [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
        ),
        os.path.join(root, "supplier.parquet"),
    )
    adjectives = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    nouns = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
    types = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
    part = [
        (
            i,
            f"{rng.choice(adjectives)} {rng.choice(nouns)}",
            f"Brand#{rng.randint(1, 25)}",
            rng.choice(types),
            rng.randint(1, 50),
            round(900 + (i % 1000) * 0.1 + rng.randint(0, 100), 2),
        )
        for i in range(2000)
    ]
    _write_parquet(
        part,
        pa.schema(
            [
                ("p_partkey", pa.int64()),
                ("p_name", pa.string()),
                ("p_brand", pa.string()),
                ("p_type", pa.string()),
                ("p_size", pa.int32()),
                ("p_retailprice", pa.float64()),
            ]
        ),
        os.path.join(root, "part.parquet"),
    )

    order_rows, line_rows = [], []
    lo = datetime(1995, 1, 1)
    for ok in range(orders):
        odate = _day(rng, lo, 2404)
        n_lines = rng.randint(1, 7)
        total = 0.0
        for ln in range(1, n_lines + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2000), 2)
            total += price
            line_rows.append(
                (
                    ok,
                    rng.randrange(2000),
                    rng.randrange(100),
                    ln,
                    qty,
                    price,
                    rng.randint(0, 10) / 100,
                    rng.randint(0, 8) / 100,
                    rng.choice("ANR"),
                    rng.choice("OF"),
                    odate + timedelta(days=rng.randint(1, 121)),
                )
            )
        order_rows.append(
            (ok, rng.randrange(1500), rng.choice("OFP"), round(total, 2), odate, f"{rng.randint(1, 5)}-PRIO")
        )
    _write_parquet(
        order_rows,
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", ts),
                ("o_orderpriority", pa.string()),
            ]
        ),
        os.path.join(root, "orders.parquet"),
    )
    _write_parquet(
        line_rows,
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", ts),
            ]
        ),
        os.path.join(root, "lineitem.parquet"),
    )

    kinds = ["click", "view", "purchase", "signup", "error"]
    ev_start = datetime(2024, 1, 1)
    events = []  # five days: the oracles' recursive 15-min spines stay short
    for i in range(10000):
        t = ev_start + timedelta(seconds=i * 43.2 + rng.random() * 40, microseconds=rng.randrange(1000000))
        events.append((i, t, rng.randrange(150), rng.choice(kinds), round(0.01 + rng.expovariate(1 / 120), 2), ""))
    _write_parquet(
        events,
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", ts),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
        os.path.join(root, "events.parquet"),
    )

    return root
