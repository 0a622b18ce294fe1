"""The decision rule of tools/ab.py, on recorded benchmark pairs (no Spark).

The values are the interleaved pairs recorded in CHANGES.md for the
load-the-read-graph-once change (seeds 21-30, parent then change).
"""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "tools", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    END_TO_END = json.load(_fh)["end_to_end"]

ASSEMBLY = {
    "pass_s": (
        [4.83, 3.53, 3.70, 3.72, 3.72, 4.00, 4.10, 4.42, 4.00, 3.42],
        [2.86, 2.13, 3.33, 2.73, 2.43, 2.87, 3.78, 2.95, 2.71, 2.05],
    ),
    "cold_pass_s": (
        [13.24, 11.23, 10.72, 13.09, 12.55, 10.09, 12.42, 14.52, 11.06, 10.20],
        [10.79, 10.23, 9.78, 10.93, 7.44, 9.59, 11.18, 14.30, 8.40, 10.10],
    ),
    "setup_s": (
        [10.72, 9.22, 9.18, 10.82, 10.05, 9.72, 10.20, 13.07, 10.40, 9.95],
        [11.43, 10.00, 10.54, 13.43, 8.00, 9.90, 12.64, 13.34, 9.92, 10.16],
    ),
    "peak_rss_mb": (
        [1511, 1513, 1499, 1484, 1497, 1502, 1491, 1527, 1485, 1489],
        [1537, 1573, 1553, 1582, 1553, 1527, 1522, 1543, 1503, 1548],
    ),
}
ITERATIVE_PASS_S = (
    [3.84, 3.83, 3.37, 5.36, 4.07, 7.19, 5.85, 6.70, 6.75, 3.70],
    [4.83, 3.58, 4.17, 5.49, 7.37, 4.11, 3.79, 5.38, 6.26, 3.84],
)


def _runs(table: dict, arm: int) -> list[dict]:
    n = len(next(iter(table.values()))[arm])
    return [
        {"correct": True, "attempted": 8, "failed": 0,
         "metrics": {k: {"value": v[arm][i]} for k, v in table.items()}}
        for i in range(n)
    ]


def test_assembly_pass_s_is_a_gain():
    m = ab.judge(*ASSEMBLY["pass_s"], better="lower", bound=0.25)
    assert m["status"] == "gain"
    assert m["wins"] == 10
    assert round(m["base_median"] - m["change_median"], 2) == 1.07
    assert round(m["base_iqr"], 2) == 0.52  # 3.66 .. 4.18


def test_assembly_setup_s_is_within_bound():
    m = ab.judge(*ASSEMBLY["setup_s"], better="lower", bound=0.25)
    assert m["status"] == "within bound"
    assert round(m["delta"], 3) == 0.022


def test_iterative_pass_s_is_unresolved():
    m = ab.judge(*ITERATIVE_PASS_S, better="lower", bound=0.25)
    assert round(m["base_iqr"] / m["base_median"], 2) == 0.62
    assert m["status"] == "unresolved"


def test_assembly_verdict_is_gain():
    summary = ab.decide(END_TO_END, _runs(ASSEMBLY, 0), _runs(ASSEMBLY, 1))
    assert summary["verdict"] == "gain"
    assert {k: m["status"] for k, m in summary["metrics"].items()} == {
        "setup_s": "within bound",
        # 10/10 pairs, but the medians are 1.67 s apart and the parent's
        # IQR is 2.54 s
        "cold_pass_s": "within bound",
        "pass_s": "gain",
        "peak_rss_mb": "within bound",
    }


def test_incorrect_run_is_rejected():
    change = _runs(ASSEMBLY, 1)
    change[3].update(correct=False, failed=1)
    assert ab.decide(END_TO_END, _runs(ASSEMBLY, 0), change)["verdict"] == "rejected"


def test_run_without_result_is_rejected():
    change = _runs(ASSEMBLY, 1)
    change[0] = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    summary = ab.decide(END_TO_END, _runs(ASSEMBLY, 0), change)
    assert summary["verdict"] == "rejected"
    assert summary["metrics"]["pass_s"]["pairs"] == 9


def test_regression_beyond_bound():
    base, change = ASSEMBLY["pass_s"]
    m = ab.judge(change, base, better="lower", bound=0.25)  # arms swapped: +38%
    assert m["status"] == "regression"
    assert ab.judge(base, base, better="lower", bound=0.25)["status"] == "within bound"


def test_higher_is_better_mirrors_lower():
    base, change = ASSEMBLY["pass_s"]
    inv = ab.judge([1 / v for v in base], [1 / v for v in change], better="higher", bound=0.25)
    assert inv["status"] == "gain" and inv["wins"] == 10
