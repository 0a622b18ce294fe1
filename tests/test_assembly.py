"""Tests for the assembly pipeline (SURVEY.md §5.2 items 1, 3, 4).

Fixture plan follows FIXTURES.md §A: the 3-read smoke input, one 2-read
fixture per merge case (A1/A2/A3/B/B'/C/D), a generated multi-case chain
with decoy branches (argmax + exempt coverage), and randomized chains
checked against the independent Python oracle in assembly_oracle.py.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from bigdatagenomic_spark.operators import assembly as asm
from bigdatagenomic_spark.sources.graphlab_text import read_graphlab_text, reads_to_edges
from bigdatagenomic_spark.sources.writers import write_best_path_text

from tests.assembly_oracle import Interval, fold_chain, merge_step

DATA = os.path.join(os.path.dirname(__file__), "data")

READS_SCHEMA = (
    "read_id LONG, length INT, content STRING, offset INT, score DOUBLE, "
    "dest_ids ARRAY<LONG>"
)


def make_reads(spark, rows):
    df = spark.createDataFrame(rows, READS_SCHEMA)
    df = df.withColumn("end", F.col("offset") + F.col("length"))
    return df


def run_pipeline(spark, rows, source, destination, bit_compat=False):
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    annotated, assembled = asm.assemble(reads, edges, source, destination, bit_compat)
    return annotated.collect(), assembled.collect()[0]


# ---------------------------------------------------------------------------
# reader (R1)
# ---------------------------------------------------------------------------

def test_read_graphlab_text(spark):
    reads = read_graphlab_text(spark, os.path.join(DATA, "smoke3.txt"))
    rows = {r.read_id: r for r in reads.collect()}
    assert set(rows) == {33, 10, 38}
    assert rows[33].length == 119
    assert rows[33].offset == 1304
    assert rows[33].score == pytest.approx(0.980775)
    assert rows[33].dest_ids == [10]
    assert rows[38].dest_ids == []
    assert rows[33].end == 1304 + 119
    assert rows[10].content.startswith("TTTT") and len(rows[10].content) == 104


def test_reader_corrupt_lines(spark):
    lines = spark.createDataFrame(
        [("1 10 ACGT 5 0.5 2",), ("junk line here x y",), ("",)], "value STRING"
    )
    from bigdatagenomic_spark.sources.graphlab_text import parse_graphlab_lines

    parsed = parse_graphlab_lines(lines)
    good = parsed.where(~F.col("corrupt")).collect()
    bad = parsed.where(F.col("corrupt")).collect()
    assert len(good) == 1 and good[0].read_id == 1
    assert len(bad) == 1  # empty line dropped, junk flagged


# ---------------------------------------------------------------------------
# phase 1 (R4) + phase 2 (R5/R6)
# ---------------------------------------------------------------------------

def test_flag_valid_dead_ends(spark):
    rows = [
        (1, 4, "ACGT", 0, 0.9, [2, 3]),
        (2, 4, "ACGT", 10, 0.8, []),   # dead end, not destination -> invalid
        (3, 4, "ACGT", 20, 0.7, []),   # dead end but destination -> valid
    ]
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    flagged = {r.read_id: r.valid for r in asm.flag_valid(reads, edges, 3).collect()}
    assert flagged == {1: True, 2: False, 3: True}


def test_best_child_argmax_and_tiebreak(spark):
    rows = [
        (1, 4, "ACGT", 0, 0.5, [2, 3, 4]),
        (2, 4, "ACGT", 10, 0.7, []),
        (3, 4, "ACGT", 20, 0.9, []),   # max score -> chosen
        (4, 4, "ACGT", 30, 0.9, []),   # tie with 3 -> lowest id (3) wins
        (5, 4, "ACGT", 40, 0.1, []),   # leaf -> next_id 0
    ]
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    nxt = {r.read_id: r.next_id for r in asm.with_next_id(reads, edges).collect()}
    assert nxt[1] == 3
    assert nxt[5] == 0


def test_scatter_invalidation_marks_unchosen(spark):
    rows = [
        (1, 4, "ACGT", 0, 0.5, [2, 3]),
        (2, 4, "AAAA", 10, 0.9, [4]),
        (3, 4, "CCCC", 20, 0.1, [4]),  # not chosen by parent 1 -> invalid
        (4, 4, "GGGG", 30, 0.5, []),
    ]
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    flagged = asm.flag_valid(reads, edges, 4)
    with_next = asm.with_next_id(flagged, edges)
    out = {r.read_id: r.valid for r in asm.scatter_invalidation(with_next, edges).collect()}
    assert out[1] is True          # chain head, no in-edges
    assert out[2] is True          # chosen by 1
    assert out[3] is False         # unchosen child
    assert out[4] is True          # chosen by 2 (and by 3)


# ---------------------------------------------------------------------------
# phase 3a: path extraction
# ---------------------------------------------------------------------------

# a row budget of 0 forces the distributed pointer-doubling strategy;
# 4M exercises the driver-side walk (small successor table)
@pytest.mark.parametrize("threshold", [0, 4_000_000])
def test_extract_path_chain_and_cycle(spark, driver_budget, threshold):
    driver_budget(threshold)
    n = 37
    rows = [(i, 4, "ACGT", i * 10, 0.5, [i + 1]) for i in range(1, n)] + [
        (n, 4, "ACGT", n * 10, 0.5, [])
    ]
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    with_next = asm.with_next_id(reads, edges)
    path = asm.extract_path(with_next, 1).collect()
    path.sort(key=lambda r: r.pos)
    assert [r.read_id for r in path] == list(range(1, n + 1))
    assert [r.pos for r in path] == list(range(n))

    # cycle 1->2->3->1 must terminate with each vertex at min position
    rows_c = [
        (1, 4, "ACGT", 0, 0.5, [2]),
        (2, 4, "ACGT", 0, 0.5, [3]),
        (3, 4, "ACGT", 0, 0.5, [1]),
    ]
    reads_c = make_reads(spark, rows_c)
    with_next_c = asm.with_next_id(reads_c, reads_to_edges(reads_c))
    path_c = asm.extract_path(with_next_c, 1).collect()
    path_c.sort(key=lambda r: r.pos)
    assert [(r.pos, r.read_id) for r in path_c] == [(0, 1), (1, 2), (2, 3)]


def _heap(bytes_budget: int):
    """A session stand-in whose driver heap gives the row budget a
    ``bytes_budget``-byte share."""
    from types import SimpleNamespace

    from bigdatagenomic_spark.sources.local import DRIVER_WALK_MEM_FRACTION

    return SimpleNamespace(
        conf={"spark.driver.memory": f"{bytes_budget * DRIVER_WALK_MEM_FRACTION}b"}
    )


def test_driver_walk_budget_is_byte_derived(spark):
    """VERDICT r5 #4: the walk threshold derives from a bytes budget
    (driver heap fraction / ~90B per dict entry), not a row constant."""
    from bigdatagenomic_spark.sources.local import (
        DRIVER_WALK_ENTRY_BYTES,
        DRIVER_WALK_MEM_FRACTION,
        DRIVER_WALK_TIME_CAP_ROWS,
        _driver_mem_bytes,
        driver_walk_row_budget,
    )

    assert driver_walk_row_budget(_heap(9000)) == 100
    assert driver_walk_row_budget(_heap(1)) == 1  # floors at 1
    mem = _driver_mem_bytes(spark)
    assert mem > 0
    assert driver_walk_row_budget(spark) == min(
        max(1, (mem // DRIVER_WALK_MEM_FRACTION) // DRIVER_WALK_ENTRY_BYTES),
        DRIVER_WALK_TIME_CAP_ROWS,
    )


@pytest.mark.parametrize(
    "conf, mib",
    [("1g", 1024), ("1024", 1024), ("512mb", 512), ("4gb", 4096),
     ("2t", 2 << 20), (" 8G ", 8192)],
)
def test_driver_mem_bytes_reads_spark_byte_strings(conf, mib):
    """spark.driver.memory by Spark's rules: binary unit suffixes with or
    without a trailing b, in any case; MiB when there is no suffix."""
    from types import SimpleNamespace

    from bigdatagenomic_spark.sources.local import _driver_mem_bytes

    spark = SimpleNamespace(conf={"spark.driver.memory": conf})
    assert _driver_mem_bytes(spark) == mib << 20


@pytest.mark.parametrize("conf", ["1.5g", "4x", "g", ""])
def test_driver_mem_bytes_rejects_what_spark_rejects(conf):
    from types import SimpleNamespace

    from bigdatagenomic_spark.sources.local import _driver_mem_bytes

    with pytest.raises(ValueError):
        _driver_mem_bytes(SimpleNamespace(conf={"spark.driver.memory": conf}))


def test_driver_walk_budget_time_cap_governs_big_drivers(spark):
    """VERDICT r7 #8: the walk is a serial per-row driver loop whose
    measured crossover vs pointer doubling is ~20M rows (SCALING.md
    path-extraction sweep); on big heaps the memory bound alone would
    pick the slower strategy in the 20-95M band. Pins that the TIME cap
    governs exactly at the boundary: one byte-budget row past the cap
    stays capped, one row under passes through."""
    from bigdatagenomic_spark.sources.local import (
        DRIVER_WALK_ENTRY_BYTES,
        DRIVER_WALK_TIME_CAP_ROWS,
        driver_walk_row_budget,
    )

    cap = DRIVER_WALK_TIME_CAP_ROWS
    # 1 TiB byte budget (~12.2B memory-budget rows): time cap governs
    assert driver_walk_row_budget(_heap(1 << 40)) == cap
    # exactly at the boundary from the bytes side
    assert driver_walk_row_budget(_heap((cap + 1) * DRIVER_WALK_ENTRY_BYTES)) == cap
    assert driver_walk_row_budget(_heap((cap - 1) * DRIVER_WALK_ENTRY_BYTES)) == cap - 1


def test_low_byte_budget_forces_doubling_high_budget_walks(spark, driver_budget):
    """A low budget must push extract_path onto the distributed
    pointer-doubling strategy and a high budget onto the driver walk;
    both produce the identical path."""
    n = 30
    rows = [(i, 4, "ACGT", i * 10, 0.5, [i + 1]) for i in range(1, n)] + [
        (n, 4, "ACGT", n * 10, 0.5, [])
    ]
    reads = make_reads(spark, rows)
    with_next = asm.with_next_id(reads, reads_to_edges(reads))
    # budget of exactly 1 row (< the 29 successor rows) -> doubling
    driver_budget(1)
    doubled = sorted((r.pos, r.read_id) for r in asm.extract_path(with_next, 1).collect())
    # a budget of a million rows -> driver walk
    driver_budget(1_000_000)
    walked = sorted((r.pos, r.read_id) for r in asm.extract_path(with_next, 1).collect())
    expected = [(i, i + 1) for i in range(n)]
    assert doubled == walked == expected


# ---------------------------------------------------------------------------
# phase 3b: merge fold — per-case fixtures (FIXTURES.md §A.4.2)
# ---------------------------------------------------------------------------

PARENT = (1, 10, "AAAAAAAAAA", 100, 0.9)  # interval [100, 109]

MERGE_CASES = {
    # name: (child interval, expected via python oracle)
    "A1_gap_before": (80, 10, "CCCCCCCCCC"),
    "A1_adjacent_before": (90, 10, "CCCCCCCCCC"),
    "A2_covers": (95, 20, "CCCCCCCCCCCCCCCCCCCC"),
    "A3_overlap_prefix": (95, 10, "CCCCCCCCCC"),
    "A3_ends_at_end": (95, 15, "CCCCCCCCCCCCCCC"),
    "B_overlap_suffix": (105, 10, "CCCCCCCCCC"),
    "Bp_contained": (102, 5, "CCCCC"),
    "C_adjacency": (109, 10, "CCCCCCCCCC"),
    "D_gap_after": (115, 10, "CCCCCCCCCC"),
    "D_adjacent_after": (110, 10, "CCCCCCCCCC"),
}


@pytest.mark.parametrize("name", sorted(MERGE_CASES))
@pytest.mark.parametrize("bit_compat", [False, True])
def test_merge_cases(spark, name, bit_compat):
    c_off, c_len, c_content = MERGE_CASES[name]
    pid, plen, pcontent, poff, pscore = PARENT
    rows = [
        (pid, plen, pcontent, poff, pscore, [2]),
        (2, c_len, c_content, c_off, 0.5, []),
    ]
    _, assembled = run_pipeline(spark, rows, source=1, destination=2, bit_compat=bit_compat)
    expected = merge_step(
        Interval(poff, plen, pcontent), Interval(c_off, c_len, c_content), bit_compat
    )
    assert (assembled.offset, assembled.length, assembled.content) == (
        expected.offset,
        expected.length,
        expected.content,
    )
    assert assembled.length == len(assembled.content)


@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_merge_case_values_spot_check(spark):
    """Hand-computed expectations (not via the oracle) for three cases."""
    # D: gap of 5 between [100,109] and [115,124]
    rows = [(1, 10, "AAAAAAAAAA", 100, 0.9, [2]), (2, 10, "CCCCCCCCCC", 115, 0.5, [])]
    _, out = run_pipeline(spark, rows, 1, 2)
    assert out.content == "AAAAAAAAAA" + "N" * 5 + "CCCCCCCCCC"
    assert (out.offset, out.length) == (100, 25)
    # C: child starts on parent's last base -> 1-base overlap dropped
    rows = [(1, 10, "AAAAAAAAAA", 100, 0.9, [2]), (2, 10, "CCCCCCCCCC", 109, 0.5, [])]
    _, out = run_pipeline(spark, rows, 1, 2)
    assert out.content == "AAAAAAAAAA" + "CCCCCCCCC"
    assert (out.offset, out.length) == (100, 19)
    # B extend: child [105,114] overlaps 5, contributes last 5 bases
    rows = [(1, 10, "AAAAAAAAAA", 100, 0.9, [2]), (2, 10, "CCCCCCCCCC", 105, 0.5, [])]
    _, out = run_pipeline(spark, rows, 1, 2)
    assert out.content == "AAAAAAAAAA" + "CCCCC"
    assert (out.offset, out.length) == (100, 15)


# ---------------------------------------------------------------------------
# end-to-end: smoke-3 golden + generated chain vs oracle
# ---------------------------------------------------------------------------

def test_smoke3_end_to_end(spark):
    reads = read_graphlab_text(spark, os.path.join(DATA, "smoke3.txt"))
    edges = reads_to_edges(reads)
    annotated, assembled = asm.assemble(reads, edges, source=33, destination=38)
    out = assembled.collect()[0]
    rows = {r.read_id: r for r in reads.collect()}
    expected = fold_chain(
        [
            Interval(rows[33].offset, rows[33].length, rows[33].content),
            Interval(rows[10].offset, rows[10].length, rows[10].content),
            Interval(rows[38].offset, rows[38].length, rows[38].content),
        ]
    )
    assert out.content == expected.content
    assert out.offset == 1304
    assert out.length == len(out.content) == 2719  # 119+1903+104+461+132
    nxt = {r.read_id: r.next_id for r in annotated.collect()}
    assert nxt == {33: 10, 10: 38, 38: 0}


def test_input_is_read_once(spark, tmp_path):
    """The load count is the only scan of the read file: with the file
    deleted after it, the edge list, path collect, merge fold and sink
    all still run, from the pinned rows."""
    infile = tmp_path / "reads.txt"
    shutil.copy(os.path.join(DATA, "smoke3.txt"), infile)
    reads = read_graphlab_text(spark, str(infile))
    assert reads.count() == 3
    infile.unlink()
    edges = reads_to_edges(reads)
    annotated, assembled = asm.assemble(reads, edges, source=33, destination=38)
    out = assembled.collect()[0]
    assert (out.offset, out.length) == (1304, 2719)
    sink = tmp_path / "out"
    write_best_path_text(annotated, str(sink))
    headers = [
        line
        for part in sink.glob("part-*")
        for line in part.read_text().splitlines()
        if "\t" in line
    ]
    assert sorted(headers) == ["10\t38", "33\t10", "38\t0"]


def _random_chain(rng: random.Random, n: int):
    """A random next_id chain with mixed-case interval placements + decoys."""
    rows = []
    offset = rng.randint(0, 50)
    prev_end = offset
    for i in range(1, n + 1):
        length = rng.randint(3, 12)
        content = "".join(rng.choice("ACGT") for _ in range(length))
        succ = [i + 1] if i < n else []
        # decoy low-score branch off every third vertex (never the tail —
        # a decoy as the only child would legitimately extend the path)
        if i % 3 == 0 and i < n:
            decoy_id = 1000 + i
            succ = succ + [decoy_id]
            rows.append((decoy_id, 4, "TTTT", 0, 0.01, []))
        rows.append((i, length, content, offset, 0.5 + 0.4 * rng.random(), succ))
        # place next interval anywhere around the accumulated end: gaps,
        # overlaps, containment, adjacency all occur
        prev_end = max(prev_end, offset + length - 1)
        offset = max(0, prev_end + rng.randint(-15, 10))
    return rows


@pytest.mark.parametrize("seed", [7, 42, 1234])
@pytest.mark.parametrize("bit_compat", [False, True])
def test_random_chain_matches_python_oracle(spark, seed, bit_compat):
    rng = random.Random(seed)
    n = 30
    rows = _random_chain(rng, n)
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    with_next = asm.with_next_id(reads, edges)
    # decoys score 0.01 < real chain scores >= 0.5, so chain is 1..n
    path = asm.extract_path(with_next, 1)
    assembled = asm.merge_path(path, reads, bit_compat=bit_compat).collect()[0]
    by_id = {r[0]: Interval(r[3], r[1], r[2]) for r in rows}
    expected = fold_chain([by_id[i] for i in range(1, n + 1)], bit_compat)
    assert (assembled.offset, assembled.length, assembled.content) == (
        expected.offset,
        expected.length,
        expected.content,
    )


def _forward_chain(rng: random.Random, n: int):
    """A strictly forward-extending chain: every read starts at/after the
    previous read's start and extends past its end (cases B-ext/C/D only).
    This is the regime where the pairwise log-rounds merge is provably
    order-equivalent to the sequential fold (see merge_path_pairwise)."""
    rows = []
    offset, end = 10, 9
    for i in range(1, n + 1):
        length = rng.randint(5, 12)
        # start within the previous read but always extend past its end
        offset = max(offset, end - rng.randint(0, min(3, length - 2)))
        succ = [i + 1] if i < n else []
        content = "".join(rng.choice("ACGT") for _ in range(length))
        rows.append((i, length, content, offset, 0.9, succ))
        end = offset + length - 1
        offset = end + rng.randint(0, 6)
    return rows


def test_pairwise_merge_matches_sequential(spark):
    rng = random.Random(99)
    rows = _forward_chain(rng, 25)
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    with_next = asm.with_next_id(reads, edges)
    path = asm.extract_path(with_next, 1).localCheckpoint(eager=True)
    seq = asm.merge_path(path, reads).collect()[0]
    pw = asm.merge_path_pairwise(path, reads).collect()[0]
    assert (pw.offset, pw.length, pw.content) == (seq.offset, seq.length, seq.content)


def test_long_chain_5000_reads(spark):
    """Scale-regime stress: a 5,000-read chain (3 orders past the smoke
    fixture) through the full pipeline; result must equal the python
    oracle fold and end-to-end runtime must stay sane."""
    rng = random.Random(20240813)
    n = 5000
    rows = _forward_chain(rng, n)
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    with_next = asm.with_next_id(reads, edges)
    path = asm.extract_path(with_next, 1)
    assert path.count() == n
    assembled = asm.merge_path(path, reads).collect()[0]
    by_id = {r[0]: Interval(r[3], r[1], r[2]) for r in rows}
    expected = fold_chain([by_id[i] for i in range(1, n + 1)])
    assert (assembled.offset, assembled.length) == (
        expected.offset,
        expected.length,
    )
    assert assembled.content == expected.content


def test_long_chain_pointer_doubling_path(spark, driver_budget):
    """Force the distributed pointer-doubling walk (a 0-row budget) on a
    1,000-read chain: O(log n) rounds must recover the exact path order."""
    rng = random.Random(99)
    n = 1000
    rows = _forward_chain(rng, n)
    reads = make_reads(spark, rows)
    edges = reads_to_edges(reads)
    with_next = asm.with_next_id(reads, edges)
    driver_budget(0)
    path = asm.extract_path(with_next, 1)
    got = [(r.pos, r.read_id) for r in path.orderBy("pos").collect()]
    assert got == [(i - 1, i) for i in range(1, n + 1)]
