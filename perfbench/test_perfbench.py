"""Tests for the benchmark's own code: generators, oracle, spans, output.

Run from the repository root: ``python -m pytest perfbench -q``
(add ``-m slow`` for the end-to-end run of the benchmark itself).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from gen_reads import build_reads  # noqa: E402
from gen_tables import build_tables, cc_rounds  # noqa: E402
from spans import Tracer, union_length  # noqa: E402

from tests.assembly_oracle import Interval, fold_chain  # noqa: E402


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

def test_tables_same_seed_same_tables_other_seed_differs():
    a, b, c = (build_tables(seed, 300, 200, 40) for seed in (7, 7, 8))
    assert list(a) == ["lineitem", "documents"]
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])
    assert a["lineitem"].num_rows == c["lineitem"].num_rows == 4 * 300
    # the seed renumbers parts and shuffles rows, never the graph's rounds
    assert cc_rounds(a["lineitem"]) == cc_rounds(c["lineitem"])


def test_cc_rounds_counts_the_round_that_changes_nothing():
    import pyarrow as pa

    def rounds(pairs):
        keys, parts = zip(*pairs)
        return cc_rounds(pa.table({"l_orderkey": keys, "l_partkey": parts}))

    assert rounds([(0, 0)]) == 2  # one round joins the edge, one confirms it
    assert rounds([(0, 0), (250, 0)]) == 2  # order 250 is outside the slice
    # path order 1 - part 0 - order 2 - part 1 - order 3: round 1 gives
    # each part its smaller order's label, round 2 (with the pointer jump)
    # spreads label 1 to the far end, round 3 changes nothing
    assert rounds([(1, 0), (2, 0), (2, 1), (3, 1)]) == 3


def test_reads_same_seed_same_bytes_other_seed_differs():
    a, b, c = build_reads(3, 600, 100), build_reads(3, 600, 100), build_reads(4, 600, 100)
    assert a.text == b.text and a.expected == b.expected
    assert a.text != c.text
    assert len(a.text.splitlines()) == a.n_reads == 600


def parse_reads(text: str) -> dict[int, tuple]:
    out = {}
    for line in text.splitlines():
        f = line.split()
        out[int(f[0])] = (int(f[1]), f[2], int(f[3]), float(f[4]), [int(x) for x in f[5:]])
    return out


def test_reads_best_path_is_chain_zero():
    rs = build_reads(5, 600, 100)
    reads = parse_reads(rs.text)
    path, v = [], rs.source
    while v:  # follow each read's highest-scoring successor, as phase 2 does
        path.append(v)
        succ = reads[v][4]
        v = max(succ, key=lambda d: (reads[d][3], -d)) if succ else 0
    assert path == rs.path and path[-1] == rs.destination
    assert sum(len(r[4]) for r in reads.values()) == rs.n_edges
    folded = fold_chain([Interval(reads[i][2], reads[i][0], reads[i][1]) for i in path])
    assert folded == rs.expected
    assert all(len(content) == length for length, content, *_ in reads.values())


def test_fold_oracle_on_smoke3_chain():
    with open(os.path.join(ROOT, "tests", "data", "smoke3.txt")) as fh:
        reads = parse_reads(fh.read())
    chain, v = [], 33
    while v:
        chain.append(Interval(reads[v][2], reads[v][0], reads[v][1]))
        v = reads[v][4][0] if reads[v][4] else 0
    folded = fold_chain(chain)
    assert (folded.offset, folded.length) == (1304, 2719)


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    q = tr.add("query", None, 0.0, 10.0)
    build = tr.add("build", q, 0.0, 4.0)
    tr.add("stage", q, 3.0, 6.0)  # overlaps build: counted once
    tr.add("late", q, 9.0, 12.0)  # runs past the parent: clipped
    index = tr.children()
    assert tr.self_time(q, index[q.id]) == pytest.approx(10 - 6 - 1)
    assert tr.self_time(build, index[build.id]) == pytest.approx(4)


def test_chrome_trace_carries_parent_and_self_time(tmp_path):
    tr = Tracer()
    p = tr.add("pass", None, 100.0, 102.0)
    tr.add("stage 1", p, 100.5, 101.0, kind="stage")
    path = tmp_path / "t.json"
    tr.write_chrome(str(path))
    events = json.loads(path.read_text())["traceEvents"]
    assert [e["args"]["parent"] for e in events] == [None, 0]
    assert events[0]["args"]["self_s"] == pytest.approx(1.5)
    assert events[1]["ts"] == pytest.approx(5e5) and events[1]["tid"] == 2


# ---------------------------------------------------------------------------
# declared metrics
# ---------------------------------------------------------------------------

def test_runner_metrics_match_benchmark_json():
    spec = declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_line_requires_every_metric():
    line = run.result_line(3, 0, {"a": 1.5, "b": 2}, {"a": "s", "b": "count"})
    assert line == {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {"a": {"value": 1.5, "unit": "s"},
                                "b": {"value": 2, "unit": "count"}}}
    with pytest.raises(KeyError):
        run.result_line(1, 0, {"a": 1.0}, {"a": "s", "b": "s"})


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
def test_benchmark_prints_every_declared_metric(trace):
    spec = declared()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "iterative",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
