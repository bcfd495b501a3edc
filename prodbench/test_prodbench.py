"""The benchmark's own tests: tail-percentile rule, self-time and
tracing-overhead arithmetic, process-tree CPU and its host-speed
scaling, the timed loop's stop rule, generator determinism and the
BENCHMARK.json metric lists.

    python3 -m pytest prodbench/test_prodbench.py -q

No Spark session is started.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("n", [11, 12, 19, 20, 21, 40, 99, 100, 101, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(x) for x in range(n, 0, -1)]  # distinct, unsorted
    p, value = spans.tail_percentile(samples)
    assert sum(x > value for x in samples) >= 10
    # one percent higher would leave fewer than ten beyond
    nxt = sorted(samples)[min(n, -(-(p + 1) * n // 100)) - 1]
    assert sum(x > nxt for x in samples) < 10


def test_tail_known_values():
    assert spans.tail_percentile(list(range(20))) == (50, 9)
    assert spans.tail_percentile(list(range(100))) == (90, 89)
    assert spans.tail_percentile(list(range(11))) == (9, 0)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert spans.tail_percentile([1.0] * n) is None


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 5.0, 9.0),
        _span(3, 2, 6.0, 7.0),
    ]
    assert spans.self_times(tree) == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once():
    tree = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0)]
    assert spans.self_times(tree)[0] == pytest.approx(4.0)


def test_covered_clips_to_the_parent_interval():
    assert spans.covered([(-5.0, 2.0), (8.0, 20.0)], 0.0, 10.0) == pytest.approx(4.0)
    assert spans.covered([], 0.0, 10.0) == 0.0


def test_timed_loop_stops_at_max_ops_or_after_seconds_and_min_ops():
    cold = workloads.ProductionHour  # one operation, however long --seconds is
    assert run.finished(cold, 1, 0.5, 60.0)
    assert not run.finished(cold, 0, 90.0, 60.0)
    ticks = workloads.ExtractGrowth  # at least three, then until --seconds
    assert not run.finished(ticks, 2, 90.0, 60.0)
    assert not run.finished(ticks, 5, 30.0, 60.0)
    assert run.finished(ticks, 3, 60.0, 60.0)


def _digests(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make_all(root, seed):
    inputs.make_cron_inputs(os.path.join(root, "cron"), seed)
    ext = inputs.make_extract_inputs(os.path.join(root, "extract"), seed)
    for tick in (-1, 0, 7):
        inputs.write_result_matrix(ext, tick)
    inputs.make_catalog_inputs(os.path.join(root, "catalog"), seed, orders=500)
    return _digests(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _make_all(str(tmp_path / "a"), 5)
    b = _make_all(str(tmp_path / "b"), 5)
    c = _make_all(str(tmp_path / "c"), 6)
    assert a == b
    assert len(a) == len(c) and all(a[k] != c[k] for k in a if not k.startswith("catalog/nation"))


def test_inputs_are_reference_shaped(tmp_path):
    p = inputs.make_cron_inputs(str(tmp_path), 3)
    assert len(p["mike_order"]) == inputs.N_RAIN_STATIONS
    assert len(p["catchment_order"]) == inputs.N_CATCHMENTS
    import pyarrow.parquet as pq

    values = pq.read_table(p["sim_ts"]).column("value").to_pylist()
    assert min(values) < 0  # invalid readings to clean
    tide = pq.read_table(p["tide"]).column("value").to_pylist()
    assert -99999.0 in tide
    ext = inputs.make_extract_inputs(str(tmp_path / "x"), 3)
    _, rows = inputs.write_result_matrix(ext, 0)
    assert len(rows) == workloads.GRID_ROWS
    assert len(rows[0]) == inputs.N_RESULT_COLUMNS + 1
    assert ext["missing"] in ext["columns"] and ext["missing"] not in ext["station_ids"]


def test_benchmark_json_matches_the_metrics_the_runner_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layers = run.layer_metrics(workloads.PINNED)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: v[0] for k, v in layers.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert len(spec["per_layer"]) <= 128


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_overhead_excludes_the_traced_call_and_counts_bookkeeping_once():
    import time

    tracer = spans.Tracer(_FakeContext())
    tracer.op = 1
    with tracer.span("outer"):
        time.sleep(0.05)  # the traced call itself: not overhead
    assert tracer.overhead[1] < 0.01
    before = tracer.overhead[1]
    with tracer.bookkeeping(), tracer.span("inner"):
        time.sleep(0.05)  # traced-only work: overhead, once
    assert 0.05 <= tracer.overhead[1] - before < 0.09
    assert tracer.sc.props[spans.GROUP_KEY] is None


def test_tree_cpu_counts_live_descendants():
    import subprocess
    import time

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        deadline = time.monotonic() + 20
        while spans.tree_cpu_s(child.pid) < 0.3 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert spans.tree_cpu_s(child.pid) >= 0.3
        assert spans.tree_cpu_s(os.getpid()) >= spans.tree_cpu_s(child.pid)
    finally:
        child.kill()
        child.wait()


def test_host_speed_scales_by_the_window_median_without_the_sampler():
    speed = spans.HostSpeed(every=3600)
    speed.close()
    speed.samples = [(1.0, 0.002), (2.0, 0.004), (3.0, 0.003), (10.0, 1.0)]
    scaled, loop = speed.scale(10.009, 0.5, 3.5)  # 0.009 s of it is the sampler's
    assert loop == 0.003
    assert scaled == pytest.approx(10.0 * spans.REFERENCE_LOOP_S / 0.003)


def test_host_speed_samples_until_closed():
    import time

    speed = spans.HostSpeed(every=0.01)
    time.sleep(0.3)
    speed.close()
    n = len(speed.samples)
    assert n >= 3 and all(x > 0 for _, x in speed.samples)
    time.sleep(0.05)
    assert len(speed.samples) == n
