"""The workloads: what one operation is, how it is checked, and which
layers it is traced through.

* ``cron_inputs`` — one operation is an hourly tick: the five input
  jobs' ``main(argv)`` with the window one hour further on, each into a
  fresh output directory.
* ``extract_growth`` — one operation is a 30-min extract tick:
  ``jobs.extract.main`` upserts a new ``resmike11_WL.csv`` into the one
  warehouse, then a dashboard read collects the latest-fgt forecast of
  every series.
* ``production_hour`` — one operation is a ``cron_inputs`` tick and the
  hour's two ``extract_growth`` ticks; a run times one hour, cold.
* ``catalog_mix`` — one operation is a pass over the pinned catalog
  queries in a seeded order, each materialised with ``collect()``; a
  run times one pass, cold.

``BENCHMARK.json`` runs ``production_hour`` and ``catalog_mix``.  Every
workload drives the program only through public functions, and checks
its outputs after the timed operations.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib
import io
import json
import os
import random
import subprocess
import sys
import time
from decimal import ROUND_HALF_UP, Decimal

import inputs
from spans import median, p50, tail

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
DEFAULT_SEED = 1
PKG = "curw_mike_data_handler_spark"


def _mods(*names: str):
    return [importlib.import_module(f"{PKG}.{n}") for n in names]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def file_digest(path: str, decimals: int | None = None) -> str:
    """SHA-256 of a CSV file.  With ``decimals`` every numeric cell is
    first printed to that many decimals, for files whose last digits
    depend on the order Spark adds floating-point values in."""
    h = hashlib.sha256()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if decimals is not None:
                cells = line.rstrip("\n").split(",")
                line = ",".join(_canon(c, decimals) for c in cells) + "\n"
            h.update(line.encode())
    return h.hexdigest()


def _canon(cell: str, decimals: int) -> str:
    try:
        return f"{float(cell):.{decimals}f}"
    except ValueError:
        return cell


# ---------------------------------------------------------------------------
# cron_inputs
# ---------------------------------------------------------------------------

# output file, job module, whether blanks are allowed, header source
CRON_JOBS = (
    ("mike_rf.txt", "rainfall", False, "catchment_order"),
    ("mike_tide.txt", "tide", False, None),
    ("mike_dis.txt", "discharge", True, None),
    ("mike_rf_obs.txt", "rf_obs", True, "obs_order"),
    ("mike_rf_ws.txt", "all_stations_raw", False, "mike_order"),
)
# the rainfall file's row-mean imputation divides by station counts,
# so its last digits follow Spark's addition order (and core count)
ROUNDED_FILES = {"mike_rf.txt": 6}
GRID_ROWS = int(inputs.WINDOW.total_seconds() // 900) + 1  # 15-min grid, both ends


class CronInputs:
    name = "cron_inputs"
    warmups = 1
    min_ops = 1
    max_ops = None

    def __init__(self, seed: int):
        self.seed = seed
        self.mods = dict(zip([j for _, j, _, _ in CRON_JOBS], _mods(*[f"jobs.{j}" for _, j, _, _ in CRON_JOBS])))
        self.ticks: list[int] = []

    def make_inputs(self, root: str) -> None:
        self.paths = inputs.make_cron_inputs(root, self.seed)
        self.out_root = os.path.join(os.path.dirname(root), "out")

    def argv(self, job: str, out: str, tick: int) -> list[str]:
        p = self.paths
        s, e = inputs.cron_window(tick)
        args = {
            "rainfall": ["--sim-ts", p["sim_ts"], "--run", p["run"], "--coefficients", p["coefficients"]],
            "tide": ["--series", p["tide"]],
            "discharge": ["--series", p["discharge"]],
            "rf_obs": ["--obs-ts", p["sim_ts"], "--stations", p["obs_stations"]],
            "all_stations_raw": [
                "--sim-ts", p["sim_ts"], "--mike-stations", p["mike_stations"], "--active-obs", p["active_obs"],
            ],
        }[job]
        return args + ["--output", out, "-s", s, "-e", e]

    def out_dir(self, tick: int) -> str:
        return os.path.join(self.out_root, f"tick{tick:04d}")

    def prepare(self, tick: int) -> None:
        pass

    def op(self, tick: int, tracer) -> None:
        out = self.out_dir(tick)
        with contextlib.redirect_stdout(io.StringIO()):
            for fname, job, _, _ in CRON_JOBS:
                rc = self.mods[job].main(self.argv(job, os.path.join(out, fname), tick))
                if rc != 0:
                    raise RuntimeError(f"jobs.{job} exited {rc}")
        self.ticks.append(tick)

    def digests(self, tick: int) -> dict[str, str]:
        return {
            f: file_digest(os.path.join(self.out_dir(tick), f), ROUNDED_FILES.get(f)) for f, _, _, _ in CRON_JOBS
        }

    def check(self) -> dict[int, list[str]]:
        recorded = {}
        if self.seed == DEFAULT_SEED:
            with open(DIGESTS, encoding="utf-8") as fh:
                recorded = json.load(fh)["cron_inputs"]
        errors = {}
        for tick in self.ticks:
            errors[tick] = self.check_tick(tick)
            want = recorded.get(str(tick))
            if want and self.digests(tick) != want:
                errors[tick].append(f"tick {tick}: outputs differ from the digests recorded for seed {DEFAULT_SEED}")
        return errors

    def check_tick(self, tick: int) -> list[str]:
        """Structural invariants that hold for any seed."""
        errors = []
        start, end = inputs.cron_window(tick)
        for fname, _, blanks_ok, header_key in CRON_JOBS:
            with open(os.path.join(self.out_dir(tick), fname), encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            if header_key:
                header, lines = lines[0].split(","), lines[1:]
                if header != ["time"] + self.paths[header_key]:
                    errors.append(f"tick {tick} {fname}: header order differs from its source file")
            times = [ln.split(",", 1)[0] for ln in lines]
            if fname == "mike_tide.txt":  # rows whose value stays NULL are dropped
                ok_rows = 0 < len(lines) <= GRID_ROWS
            else:
                ok_rows = len(lines) == GRID_ROWS and times[0] == start and times[-1] == end
            if not ok_rows or times != sorted(set(times)):
                errors.append(f"tick {tick} {fname}: {len(lines)} rows not on the window's 15-min grid")
            if not blanks_ok and any(c == "" for ln in lines for c in ln.split(",")):
                errors.append(f"tick {tick} {fname}: blank value in an imputed file")
        return errors

    def layer_targets(self):
        jobs = [(f"jobs.{j}.main", m, "main") for j, m in self.mods.items()]
        (rain, tide, dis, obs, raw) = _mods(
            "plans.rainfall", "plans.tide", "plans.discharge", "plans.rf_obs", "plans.all_stations_raw"
        )
        plans = [
            ("plans.prepare_rainfall_input", rain, "prepare_rainfall_input"),
            ("plans.prepare_tide_input", tide, "prepare_tide_input"),
            ("plans.prepare_discharge_input", dis, "prepare_discharge_input"),
            ("plans.prepare_obs_rainfall_input", obs, "prepare_obs_rainfall_input"),
            ("plans.prepare_all_stations_raw", raw, "prepare_all_stations_raw"),
        ]
        return jobs + plans

    def extra_trace(self, tracer, work: str) -> dict:
        """Wall of one fresh ``python -m ...jobs.tide`` process, the
        start-up cost cron pays on every job."""
        out = os.path.join(work, "cold.txt")
        cmd = [sys.executable, "-m", f"{PKG}.jobs.tide"] + self.argv("tide", out, 0)
        t0 = time.perf_counter()
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=False)
        wall = time.perf_counter() - t0
        if r.returncode != 0 or not os.path.exists(out):
            raise RuntimeError(f"cold tide job failed: {r.stderr[-500:]}")
        return {"jobs.tide.cold_process.s": wall}

    def summary(self, walls: list[float]) -> dict:
        return {"tick_s_p50": p50(walls), "tick_s_tail": tail(walls)}


# ---------------------------------------------------------------------------
# extract_growth
# ---------------------------------------------------------------------------

MERGE = "sources.ParquetMergeTable.merge"
MATCHED_ROWS = (inputs.N_RESULT_COLUMNS - 1) * GRID_ROWS  # fact rows one tick adds


class ExtractGrowth:
    name = "extract_growth"
    # the first tick creates the tables, the second is the first merge
    # into existing ones: both run plans no later tick has compiled yet
    warmups = 2
    min_ops = 3  # ticks are cheap: a median of three
    max_ops = None

    def __init__(self, seed: int):
        self.seed = seed
        (self.extract,) = _mods("jobs.extract")
        self.ticks: list[int] = []
        self.result_dirs: dict[int, str] = {}
        self.tick_s: list[float] = []  # wall of each tick, its read included
        self.reads: list[float] = []
        # traced tick → fact bytes before and after it, and the range of
        # tracer spans its extract job recorded
        self.merge_sizes: dict[int, tuple[int, int, int, int]] = {}
        self.merge_growth: dict[int, float] = {}  # fact rows a traced tick's merges found → their wall
        self.scan_ratios: list[float] = []

    def make_inputs(self, root: str) -> None:
        self.ext = inputs.make_extract_inputs(root, self.seed)
        self.fact = os.path.join(self.ext["warehouse"], "fcst_data")

    def prepare(self, tick: int) -> None:
        self.result_dirs[tick], self.last_rows = inputs.write_result_matrix(self.ext, tick)

    def op(self, tick: int, tracer) -> None:
        from curw_mike_data_handler_spark.sources.upsert import latest_fgt_view

        spark = self.spark
        start = time.perf_counter()
        before = 0
        if tracer.active:
            with tracer.bookkeeping():
                before = _dir_bytes(self.fact)
        first_span = len(tracer.spans)
        buf = io.StringIO()
        argv = [
            "--mike-model", "mike11_2016", "--output-dir", self.result_dirs.pop(tick),
            "--warehouse", self.ext["warehouse"], "--fgt", inputs.extract_fgt(tick),
        ]
        with contextlib.redirect_stdout(buf):
            rc = self.extract.main(argv)
        if rc != 0:
            raise RuntimeError(f"jobs.extract exited {rc}")
        if f"Station {self.ext['missing']} not in the database" not in buf.getvalue():
            raise RuntimeError("extract skip report does not name the unlisted station")
        if tracer.active:
            with tracer.bookkeeping():
                self.merge_sizes[tick] = (before, _dir_bytes(self.fact), first_span, len(tracer.spans))
        t0 = time.perf_counter()
        span = tracer.span("sources.latest_fgt_view") if tracer.active else contextlib.nullcontext()
        with span:
            self.latest = latest_fgt_view(spark.read.parquet(self.fact)).collect()
        self.reads.append(time.perf_counter() - t0)
        self.tick_s.append(time.perf_counter() - start)
        self.ticks.append(tick)
        if tracer.active:
            self.scan_ratios.append(self.fact_rows(len(self.ticks)) / len(self.latest))

    def fact_rows(self, n_ticks: int) -> int:
        return n_ticks * MATCHED_ROWS

    def check(self) -> dict[int, list[str]]:
        spark, errors = self.spark, []
        n = spark.read.parquet(self.fact).count()
        if n != self.fact_rows(len(self.ticks)):
            errors.append(f"fact rows {n} != matched station x time x fgt rows {self.fact_rows(len(self.ticks))}")
        last_fgt = inputs.extract_fgt(self.ticks[-1])
        run = spark.read.parquet(os.path.join(self.ext["warehouse"], "fcst_run")).collect()
        if len(run) != inputs.N_RESULT_COLUMNS - 1 or {str(r["latest_fgt"]) for r in run} != {last_fgt}:
            errors.append("run header's latest_fgt is not the last tick's fgt for every series")
        names = {sid: name for name, sid in self.ext["station_ids"].items()}
        station_of = {r["tms_id"]: names[r["station_id"]] for r in run}
        got = {
            (station_of.get(r["tms_id"]), r["time"].strftime(inputs.TIME_FMT)): r["value"] for r in self.latest
        }
        header = ["Time Stamp"] + self.ext["columns"]
        want = {
            (col, row[0]): float(Decimal(v).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))
            for row in self.last_rows
            for col, v in zip(header[1:], row[1:])
            if col != self.ext["missing"]
        }
        if got != want:
            errors.append("latest-fgt read differs from the last result matrix rounded to 3 dp")
        return {self.ticks[-1]: errors}

    def layer_targets(self):
        (plans_extract,) = _mods("plans.extract")
        return [
            ("jobs.extract.main", self.extract, "main"),
            ("plans.upsert_forecast", plans_extract, "upsert_forecast"),
        ]

    def extra_trace(self, tracer, work: str) -> dict:
        amps = []
        for tick, (before, after, lo, hi) in self.merge_sizes.items():
            merges = [s for s in tracer.spans[lo:hi] if s["name"] == MERGE]
            amps.append(sum(s["spark"]["output_mb"] for s in merges) * 1e6 / max(after - before, 1))
            self.merge_growth[self.fact_rows(tick)] = sum(s["end"] - s["start"] for s in merges)
        return {
            f"{MERGE}.write_amp": median(amps),
            "sources.fcst_data.bytes_per_row": _dir_bytes(self.fact) / self.fact_rows(len(self.ticks)),
            "sources.latest_fgt_view.rows_scanned_per_row_returned": median(self.scan_ratios),
        }

    def summary(self, walls: list[float]) -> dict:
        """Tick wall (its read included), read wall, and ``growth_ratio``:
        median tick wall over the last quarter of timed ticks ÷ over the
        first quarter, with the fact rows after each quarter's last tick."""
        ticks = self.tick_s[self.warmups :]
        q = max(1, len(ticks) // 4)
        return {
            "tick_s": [round(x, 4) for x in ticks],
            "tick_s_p50": p50(ticks),
            "tick_s_tail": tail(ticks),
            "read_s_p50": p50(self.reads[self.warmups :]),
            "growth_ratio": {
                "value": median(ticks[-q:]) / median(ticks[:q]),
                "unit": "ratio",
                "samples": 2 * q,
                "fact_rows_first": self.fact_rows(self.warmups + q),
                "fact_rows_last": self.fact_rows(self.warmups + len(ticks)),
            },
            "merge_s_by_fact_rows": self.merge_growth,
        }


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------

PINNED = (
    # paper family: the time-series operators cron_inputs also runs, and
    # the latest-fgt read extract_growth's dashboard read runs
    "rf_weighted_catchment",
    "tide_pipeline_shape",
    "j1_spine_gapfill",
    "a1_resample_right_closed",
    "p9_unpivot_melt",
    "j3_w2_nearest_stations",
    "s14_latest_version_read",
    # engine (Catalyst joins, windows, aggregates)
    "q1_pricing_summary",
    "q21_sole_late_shipper",
    # exact selection (operators.robust); most of its wall is
    # driver-side construction, the census checkpoint included
    "a9_quantiles",
)


class CatalogMix:
    """One pass over the pinned queries in a seeded order, cold, right
    after the session starts (as ``production_hour`` runs its hour);
    ``--seconds`` does not add warm passes to it.  Each query is
    materialised with ``collect()``, so the oracle check reads the timed
    pass's own rows instead of running the queries a second time."""

    name = "catalog_mix"
    warmups = 0
    min_ops = max_ops = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.results: dict[str, tuple] = {}  # query → (DataFrame, its rows)

    def make_inputs(self, root: str) -> None:
        self.sf = inputs.make_catalog_inputs(root, self.seed)

    def import_catalog(self) -> float:
        t0 = time.perf_counter()
        self.catalog = importlib.import_module(f"{PKG}.catalog")
        return time.perf_counter() - t0

    def order(self, p: int) -> list[str]:
        names = list(PINNED)
        random.Random(f"order-{self.seed}-{p}").shuffle(names)
        return names

    def prepare(self, p: int) -> None:
        pass

    def op(self, p: int, tracer) -> None:
        spark, queries = self.spark, self.catalog.QUERIES
        for q in self.order(p):
            if tracer.active:
                with tracer.span(f"catalog.{q}.build"):
                    df = queries[q](spark, self.sf)
                # collect() plans the query again: forcing the plan here
                # is work only a traced pass does
                with tracer.bookkeeping(), tracer.span(f"catalog.{q}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"catalog.{q}.exec"):
                    rows = df.collect()
            else:
                df = queries[q](spark, self.sf)
                rows = df.collect()
            self.results[q] = (df, rows)

    def check(self) -> dict[int, list[str]]:
        import duckdb

        con = duckdb.connect()
        for t in inputs.CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        errors = []
        for q, (df, rows) in self.results.items():
            order = sorted(df.columns)
            got = sorted(repr(tuple(r[c] for c in order)) for r in rows)
            ref = con.execute(self.catalog.ORACLE[q]).fetch_arrow_table().to_pylist()
            want = sorted(repr(tuple(r[c] for c in order)) for r in ref)
            if got != want:
                errors.append(f"{q}: {len(rows)} rows differ from its DuckDB oracle ({len(ref)} rows)")
            elif not rows:
                errors.append(f"{q}: empty result attests nothing")
        con.close()
        return {0: errors}

    def layer_targets(self):
        return []

    def extra_trace(self, tracer, work: str) -> dict:
        return {}

    def summary(self, walls: list[float]) -> dict:
        return {"queries": len(PINNED), "pass_s": p50(walls), "pass_s_tail": tail(walls)}


# ---------------------------------------------------------------------------
# production_hour
# ---------------------------------------------------------------------------


class ProductionHour:
    """One production hour: the hourly ``cron_inputs`` tick, then the
    hour's two 30-min ``extract_growth`` ticks into the one warehouse
    (the first creates the tables, the second merges into them).  The
    hour runs once, cold, right after the session starts: cron starts a
    fresh process for every job, so production never runs a warm hour.
    ``--seconds`` does not add warm hours to it.  The summary keeps the
    cron and extract walls apart."""

    name = "production_hour"
    warmups = 0
    min_ops = max_ops = 1

    def __init__(self, seed: int):
        self.cron, self.extract = CronInputs(seed), ExtractGrowth(seed)
        self.extract.warmups = 2 * self.warmups
        self.cron_s: list[float] = []

    @property
    def spark(self):
        return self.extract.spark

    @spark.setter
    def spark(self, spark) -> None:
        self.extract.spark = spark

    def make_inputs(self, root: str) -> None:
        self.cron.make_inputs(os.path.join(root, "cron"))
        self.extract.make_inputs(os.path.join(root, "extract"))

    def prepare(self, hour: int) -> None:
        for tick in (2 * hour, 2 * hour + 1):
            self.extract.prepare(tick)

    def op(self, hour: int, tracer) -> None:
        t0 = time.perf_counter()
        self.cron.op(hour, tracer)
        self.cron_s.append(time.perf_counter() - t0)
        for tick in (2 * hour, 2 * hour + 1):
            self.extract.op(tick, tracer)

    def check(self) -> dict[int, list[str]]:
        errors = self.cron.check()
        for tick, errs in self.extract.check().items():
            errors.setdefault(tick // 2, []).extend(errs)
        return errors

    def layer_targets(self):
        return self.cron.layer_targets() + self.extract.layer_targets()

    def extra_trace(self, tracer, work: str) -> dict:
        return {**self.cron.extra_trace(tracer, work), **self.extract.extra_trace(tracer, work)}

    def summary(self, walls: list[float]) -> dict:
        cron = self.cron_s[self.warmups :]
        return {
            "cron_inputs": {"tick_s": [round(x, 4) for x in cron], **self.cron.summary(cron)},
            "extract_growth": self.extract.summary(walls),
        }


def common_targets():
    spine, resample, weighted, nearest, robust, csv_io, upsert = _mods(
        "operators.spine",
        "operators.resample",
        "operators.weighted",
        "operators.nearest",
        "operators.robust",
        "sources.csv_io",
        "sources.upsert",
    )
    return [
        ("operators.spine_align_long", spine, "spine_align_long"),
        ("operators.resample_sum_right_closed", resample, "resample_sum_right_closed"),
        ("operators.weighted_group_sum", weighted, "weighted_group_sum"),
        ("operators.nearest_k_stations", nearest, "nearest_k_stations"),
        ("operators.pivot_wide", spine, "pivot_wide"),
        ("operators.melt_long", spine, "melt_long"),
        ("operators.robust.select_values_at_ranks", robust, "select_values_at_ranks"),
        ("sources.write_single_csv", csv_io, "write_single_csv"),
        ("sources.read_wide_matrix", csv_io, "read_wide_matrix"),
        (MERGE, getattr(upsert, "ParquetMergeTable", None), "merge"),
    ]


WORKLOADS = {w.name: w for w in (ProductionHour, CatalogMix, CronInputs, ExtractGrowth)}
