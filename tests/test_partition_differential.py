"""Partition-differential parity: a catalog gate's result must not
depend on how many shuffle partitions the session uses.

``catalog._prep`` sizes shuffles to the session's cores, so a query
whose answer leaks the partition count (a hash placement, a
per-partition first row, a combine order in floating point) passes its
oracle at one core count and fails at another; the salted skew join
did exactly that on 4 cores.  Each gate below runs twice in one
session, with ``_prep`` forced to 3 and then to 32 shuffle partitions,
and the two normalized results must hash alike — the same-query,
two-configuration comparison GPU/CPU differential suites use.

The gates are the pinned ``catalog_mix`` benchmark queries (read from
``prodbench/workloads.py`` without importing it), the exact- and
approximate-percentile gates, the weighted median and the salted join.
"""

from __future__ import annotations

import ast
import hashlib
import os

import pytest

from curw_mike_data_handler_spark import catalog
from tests.test_catalog_parity import SF, normalize

_WORKLOADS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "prodbench", "workloads.py",
)


def _pinned() -> list[str]:
    tree = ast.parse(open(_WORKLOADS, encoding="utf-8").read())
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and [getattr(t, "id", None) for t in node.targets] == ["PINNED"]):
            return list(ast.literal_eval(node.value))
    raise AssertionError("prodbench/workloads.py defines no PINNED")


GATES = _pinned() + [
    "approx_quantiles_contract",
    "mad_anomalies",
    "a14_winsorized_mean",
    "theilsen_trend",
    "conversion_latency_quantiles",
    "classifier_confusion_stats",
    "weighted_median_price",
    "j13_skew_join_salted",
]


@pytest.mark.parametrize("name", GATES)
def test_gate_result_is_independent_of_shuffle_partitions(spark, monkeypatch, name):
    prep = catalog._prep
    before = spark.conf.get("spark.sql.shuffle.partitions")
    digests, sizes = [], []
    try:
        for n in (3, 32):

            def forced(s, n=n):
                prep(s)
                s.conf.set("spark.sql.shuffle.partitions", str(n))

            monkeypatch.setattr(catalog, "_prep", forced)
            sdf = catalog.QUERIES[name](spark, SF)
            rows = normalize([tuple(r) for r in sdf.collect()], sdf.columns)
            digests.append(hashlib.sha256(repr(rows).encode()).hexdigest())
            sizes.append(len(rows))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert digests[0] == digests[1], (name, sizes)
