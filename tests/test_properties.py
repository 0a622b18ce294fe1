"""Property-based tests (hypothesis) for order-sensitive operators.

Spark roundtrips are expensive, so example counts are small but the
generated structures target exactly the hard parts: equal timestamps,
missing matches, and input-row-order permutations.
"""

from __future__ import annotations

import pytest

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from bigdatagenomic_spark.operators.relational_ext import asof_join_backward

_BASE = datetime(2024, 6, 1)

# (user, minute_offset) pairs; small domains force collisions: several
# users share minutes, and ties between left and right ts happen often
_events = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 20)), min_size=0, max_size=12
)


def _py_asof(clicks, views):
    """Reference semantics: greatest view ts <= click ts per user,
    ties on view ts broken by... (view ts unique per user by construction)."""
    out = {}
    for cid, (cu, ct) in enumerate(clicks):
        best = None
        for vid, (vu, vt) in enumerate(views):
            if vu == cu and vt <= ct and (best is None or vt > best[1]):
                best = (vid, vt)
        out[cid] = best
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(clicks=_events, views=_events)
def test_asof_join_matches_python_reference(spark, clicks, views):
    # dedupe (user, ts) within each side: duplicate right keys make "which
    # row matched" ambiguous (the VALUE is still deterministic, but the
    # python oracle would need the same tie rule as the window order)
    clicks = sorted(set(clicks))
    views = sorted(set(views))
    c_df = spark.createDataFrame(
        [(i, u, _BASE + timedelta(minutes=t)) for i, (u, t) in enumerate(clicks)]
        or [(None, None, None)],
        "event_id LONG, user_id LONG, ts TIMESTAMP",
    ).where(F.col("event_id").isNotNull())
    v_df = spark.createDataFrame(
        [(i, u, _BASE + timedelta(minutes=t)) for i, (u, t) in enumerate(views)]
        or [(None, None, None)],
        "view_event_id LONG, user_id LONG, ts TIMESTAMP",
    ).where(F.col("view_event_id").isNotNull())

    got = {
        r.event_id: (r["_match"]["view_event_id"] if r["_match"] else None)
        for r in asof_join_backward(
            c_df, v_df, on="user_id", right_cols=("view_event_id",)
        ).collect()
    }
    want = {
        cid: (best[0] if best else None)
        for cid, best in _py_asof(clicks, views).items()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10**6))
def test_boilerplate_scrub_reassembly_identity(spark, seed):
    """With an unreachable frequency threshold nothing is boilerplate,
    so the scrub must be the identity on tokenized text: every segment
    kept, clean_text == the normalized token join — for any corpus,
    any token count (including sub-w tails and empty docs)."""
    import random

    from bigdatagenomic_spark.functions import tokens as tok_expr
    from bigdatagenomic_spark.operators.llm_prep import boilerplate_scrub

    rng = random.Random(seed)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = []
    for i in range(30):
        n = rng.randint(1, 17)
        rows.append((i, " ".join(rng.choice(words) for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r.doc_id: r
        for r in boilerplate_scrub(docs, w=3, max_docs=10**9).collect()
    }
    norm = {
        r.doc_id: r.t
        for r in docs.select("doc_id", tok_expr(F.col("text")).alias("t")).collect()
    }
    assert len(out) == len(rows)
    for i, toks in norm.items():
        assert out[i].n_kept == out[i].n_seg
        assert out[i].clean_text == " ".join(toks)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10**6), length=st.integers(9, 40))
@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_deep_pointer_doubling_and_pairwise_fold_agree(spark, driver_budget, seed, length):
    """VERDICT r5 #7: exercise the pointer-doubling extraction at real
    depth (length >= 9 -> >= 4 doubling rounds under a forced-tiny row
    budget) and pin the documented equivalence class: on
    forward-extending chains (every read starts after its predecessor
    and extends past its end — cases B-ext/C/D),
    ``extract_path``(doubling) == ``extract_path``(walk) and
    ``merge_path`` == ``merge_path_pairwise`` == the pure-Python
    sequential fold (tests/assembly_oracle.py)."""
    import random

    from bigdatagenomic_spark.operators import assembly as asm
    from tests.assembly_oracle import Interval, merge_step

    rng = random.Random(seed)
    rows = []
    o, ln = 100, rng.randint(4, 12)
    content = "".join(rng.choice("ACGT") for _ in range(ln))
    rows.append((1, ln, content, o))
    for i in range(2, length + 1):
        e = o + ln - 1
        on = rng.randint(o + 1, e + 3)          # B-ext interior, C at e, D past
        # extends past e when overlapping; >= 1 base always (a non-positive
        # length is not a read, and breaks the forward-extending contract)
        new_ln = max(1, e - on + 2) + rng.randint(0, 6)
        o, ln = on, new_ln
        content = "".join(rng.choice("ACGT") for _ in range(ln))
        rows.append((i, ln, content, o))
    reads = spark.createDataFrame(
        rows, "read_id LONG, length INT, content STRING, offset INT"
    )
    with_next = reads.withColumn(
        "next_id",
        F.when(F.col("read_id") < length, F.col("read_id") + 1).otherwise(F.lit(0)),
    )
    # forced doubling (1-row budget) vs driver walk (million-row budget)
    driver_budget(1)
    doubled = asm.extract_path(with_next, 1).localCheckpoint(eager=True)
    driver_budget(1_000_000)
    walked = asm.extract_path(with_next, 1)
    assert sorted((r.pos, r.read_id) for r in doubled.collect()) == sorted(
        (r.pos, r.read_id) for r in walked.collect()
    ) == [(i, i + 1) for i in range(length)]

    acc = Interval(rows[0][3], rows[0][1], rows[0][2])
    for rid, l2, c2, o2 in rows[1:]:
        acc = merge_step(acc, Interval(o2, l2, c2))
    fold_row = asm.merge_path(doubled, reads).collect()[0]
    pw_row = asm.merge_path_pairwise(doubled, reads).collect()[0]
    for got in (fold_row, pw_row):
        assert (got.offset, got.length, got.content) == (
            acc.offset, acc.length, acc.content,
        )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(perm_seed=st.integers(0, 10_000))
@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_merge_fold_invariant_to_row_order(spark, perm_seed):
    """SURVEY.md §5.2 item 4: the assembly fold's result must not depend
    on the physical order reads arrive in."""
    import random

    from bigdatagenomic_spark.operators import assembly as asm
    from bigdatagenomic_spark.sources.graphlab_text import (
        read_graphlab_text,
        reads_to_edges,
    )

    reads = read_graphlab_text(spark, "tests/data/smoke3.txt")
    rows = reads.collect()
    random.Random(perm_seed).shuffle(rows)
    shuffled = spark.createDataFrame(rows, reads.schema).repartition(4)
    edges = reads_to_edges(shuffled)
    _, assembled = asm.assemble(shuffled, edges, source=33, destination=38)
    row = assembled.collect()[0]
    assert (row.offset, row.length) == (1304, 2719)
    assert row.content.startswith("NAAGCGTATTGAAGGCTCGGTCTGGCCAAAGTC")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(clicks=_events, views=_events)
def test_cogrouped_asof_matches_python_reference(spark, clicks, views):
    """The Arrow cogroup formulation (pandas.merge_asof per cogroup) must
    agree with the python oracle — same groups, ties, no-match NULLs —
    i.e. with the exact semantics the window formulation is tested to."""
    from bigdatagenomic_spark.operators.relational_ext import asof_join_cogrouped

    clicks = sorted(set(clicks))
    views = sorted(set(views))
    if not clicks:
        return
    c_df = spark.createDataFrame(
        [(i, u, _BASE + timedelta(minutes=t)) for i, (u, t) in enumerate(clicks)],
        "event_id LONG, user_id LONG, ts TIMESTAMP",
    )
    v_df = spark.createDataFrame(
        [(i, u, _BASE + timedelta(minutes=t)) for i, (u, t) in enumerate(views)]
        or [(None, None, None)],
        "r_value LONG, user_id LONG, ts TIMESTAMP",
    ).where(F.col("r_value").isNotNull())
    got = {
        r.event_id: r.r_value
        for r in asof_join_cogrouped(c_df, v_df, on="user_id").collect()
    }
    want = {
        cid: (best[0] if best else None)
        for cid, best in _py_asof(clicks, views).items()
    }
    assert got == want


def test_cogrouped_asof_survives_shared_lineage(spark):
    """Self-cogroup regression: when left and right derive from the SAME
    DataFrame, their columns share attribute IDs and Spark drops the
    colliding right-side columns from the pandas frame unless the
    operator re-aliases them (asof_join_cogrouped does). This is the
    production shape — one event table split by type."""
    from bigdatagenomic_spark.operators.relational_ext import asof_join_cogrouped

    base = spark.createDataFrame(
        [(1, 10, 5, "click"), (2, 10, 9, "click"), (7, 10, 4, "view"), (8, 10, 7, "view")],
        "event_id long, user_id long, t long, typ string",
    ).withColumn("ts", F.to_timestamp(F.col("t") + 1_600_000_000))
    clicks = base.where("typ='click'").select("event_id", "user_id", "ts")
    views = base.where("typ='view'").select(
        F.col("event_id").alias("r_value"), "user_id", "ts"
    )
    got = {
        r.event_id: r.r_value
        for r in asof_join_cogrouped(clicks, views, on="user_id").collect()
    }
    assert got == {1: 7, 2: 8}


# ---------------------------------------------------------------------------
# round-2 operators: snapshot diff, reservoir, sessionization
# ---------------------------------------------------------------------------

_snap_rows = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 3)),  # (key, version)
    min_size=0,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(old=_snap_rows, new=_snap_rows)
@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_snapshot_diff_reconstructs_new_from_old(spark, old, new):
    """Applying the diff to the old snapshot must reproduce the new one:
    old - removed - changed + (changed ∪ added rows from new) == new."""
    from bigdatagenomic_spark.operators.llm_prep import snapshot_diff

    schema = "doc_id LONG, payload STRING"
    o = spark.createDataFrame(
        [(k, f"v{v}") for k, v in old] or [], schema
    )
    n = spark.createDataFrame(
        [(k, f"v{v}") for k, v in new] or [], schema
    )
    diff = {
        r.doc_id: r.change_type
        for r in snapshot_diff(o, n, ["doc_id"], ["payload"]).collect()
    }
    old_map = dict(old)
    new_map = dict(new)
    # classification is exactly the set-algebra of the two key spaces
    for k in set(old_map) | set(new_map):
        if k not in old_map:
            assert diff.get(k) == "added"
        elif k not in new_map:
            assert diff.get(k) == "removed"
        elif old_map[k] != new_map[k]:
            assert diff.get(k) == "changed"
        else:
            assert k not in diff
    # reconstruction: patch old with the diff and compare to new
    patched = {k: v for k, v in old_map.items() if diff.get(k) != "removed"}
    for k, ct in diff.items():
        if ct in ("added", "changed"):
            patched[k] = new_map[k]
    assert patched == new_map


def test_reservoir_sample_is_stable_and_bounded(spark):
    """Per-key sample size = min(k, n_key); membership is identical after
    an arbitrary repartition (determinism is the whole point)."""
    from bigdatagenomic_spark.operators.relational_ext import reservoir_per_key

    rows = [(k, i, i * 7 % 13) for k in range(5) for i in range(k * 3)]
    df = spark.createDataFrame(rows, "k INT, a INT, b INT")
    got = reservoir_per_key(df, "k", ["a", "b"], 3).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r.k, set()).add((r.a, r.b))
    for k in range(5):
        n_key = k * 3
        expect = min(3, n_key)
        assert len(by_key.get(k, set())) == expect, (k, by_key.get(k))
    again = reservoir_per_key(df.repartition(7, "b"), "k", ["a", "b"], 3).collect()
    by_key2 = {}
    for r in again:
        by_key2.setdefault(r.k, set()).add((r.a, r.b))
    assert by_key == by_key2


def test_sessionize_gap_invariants(spark):
    """Within a session every inter-event gap <= gap_s; across session
    boundaries the gap > gap_s."""
    from bigdatagenomic_spark.operators.relational_ext import sessionize

    base = datetime(2024, 6, 1)
    rows = []
    eid = 0
    # user 1: three bursts separated by > gap; user 2: one long session
    for burst_start in (0, 100, 300):
        for j in range(3):
            rows.append((eid, 1, base + timedelta(minutes=burst_start + j)))
            eid += 1
    for j in range(10):
        rows.append((eid, 2, base + timedelta(minutes=j * 5)))
        eid += 1
    df = spark.createDataFrame(rows, "event_id LONG, user_id LONG, ts TIMESTAMP")
    out = sessionize(df, gap_s=30 * 60).collect()
    sessions = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts)):
        sessions.setdefault((r.user_id, r.session_seq), []).append(r.ts)
    assert len({s for (u, s) in sessions if u == 1}) == 3
    assert len({s for (u, s) in sessions if u == 2}) == 1
    for (u, s), tss in sessions.items():
        for a, b in zip(tss, tss[1:]):
            assert (b - a).total_seconds() <= 30 * 60
    # consecutive sessions of the same user are separated by > gap
    u1 = sorted([(s, tss) for (u, s), tss in sessions.items() if u == 1])
    for (s1, t1), (s2, t2) in zip(u1, u1[1:]):
        assert (t2[0] - t1[-1]).total_seconds() > 30 * 60


# ---------------------------------------------------------------------------
# round-5 semantic invariants (beyond oracle equality)
# ---------------------------------------------------------------------------
_SF = "/root/testdata/sf0.001"


def test_rfm_scores_are_balanced_quartiles(spark):
    """Every RFM score is in 1..4, segment counts sum to the customer
    population, and each dimension's quartile sizes differ by at most
    one (the floor((rank-1)*4/n)+1 split guarantee)."""
    from collections import Counter

    from bigdatagenomic_spark import queries as reg

    rows = reg.queries()["q_x_rfm_segments"](spark, _SF).collect()
    n_customers = (
        spark.read.parquet(f"{_SF}/orders.parquet")
        .select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_customers
    for dim in ("r_score", "f_score", "m_score"):
        per_quartile = Counter()
        for r in rows:
            score = getattr(r, dim)
            assert 1 <= score <= 4, r
            per_quartile[score] += r.n_customers
        sizes = [per_quartile[q] for q in (1, 2, 3, 4)]
        assert max(sizes) - min(sizes) <= 1, (dim, sizes)


def test_containment_dominates_jaccard(spark):
    """For any doc pair, max(containment(a->b), containment(b->a)) >=
    jaccard(a,b): the intersection over the SMALLER side's size can
    only exceed intersection over the union. Checked across the two
    operators' real outputs."""
    from bigdatagenomic_spark import queries as reg

    qs = reg.queries()
    jacc = {
        (r.a_id, r.b_id): r.jacc
        for r in qs["q_dedup_ngram_jaccard"](spark, _SF).collect()
    }
    cont = {}
    for r in qs["q_dedup_containment"](spark, _SF).collect():
        key = (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        cont[key] = max(cont.get(key, 0.0), r.containment)
    checked = 0
    for pair, j in jacc.items():
        if pair in cont:
            assert cont[pair] >= j - 1e-9, (pair, cont[pair], j)
            checked += 1
    assert checked > 0  # the thresholds must leave an overlap to compare


def test_weighted_sample_matches_python_reference(spark):
    """The Efraimidis-Spirakis top-k set must equal an INDEPENDENT
    python implementation of the same key (hashlib md5 -> uniform ->
    ln(u)/w) — cross-implementation parity, not just DuckDB SQL
    parity."""
    import hashlib
    import math

    from bigdatagenomic_spark import queries as reg
    from bigdatagenomic_spark.operators.relational_ext import WEIGHTED_SAMPLE_K

    orders = spark.read.parquet(f"{_SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).collect()

    def es_key(okey, w):
        hv = int(hashlib.md5(str(okey).encode()).hexdigest()[:15], 16)
        u = (hv % 1000000000 + 1) / 1000000001.0
        return math.log(u) / w

    expect = {
        okey
        for okey, _ in sorted(
            ((r.o_orderkey, es_key(r.o_orderkey, r.o_totalprice)) for r in orders),
            key=lambda t: (-t[1], t[0]),
        )[:WEIGHTED_SAMPLE_K]
    }
    got = {
        r.o_orderkey
        for r in reg.queries()["q_x_weighted_sample"](spark, _SF).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# BPE trainer vs a sequential pure-Python reference (Sennrich-style)
# ---------------------------------------------------------------------------
def _bpe_reference(word_freqs: dict[str, int], n_merges: int) -> dict[str, list[str]]:
    """Sequential BPE: argmax pair by (count desc, pair asc); merge
    greedy-leftmost in every word."""
    segs = {w: list(w) for w in word_freqs}
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return segs


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12
    ),
    n_merges=st.integers(1, 4),
)
@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_bpe_train_matches_sequential_reference(spark, words, n_merges):
    """The distributed window-algebra trainer must equal the sequential
    merge loop on arbitrary small corpora — including same-symbol runs
    ('aaa...'), ties, and pair-exhaustion."""
    from bigdatagenomic_spark.operators.bpe import bpe_train

    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id LONG, text STRING"
    )
    got = {
        r.word: (r.freq, r.segmented.split(" "))
        for r in bpe_train(docs, n_merges=n_merges).collect()
    }
    want = _bpe_reference(freqs, n_merges)
    assert set(got) == set(want)
    for w in want:
        assert got[w] == (freqs[w], want[w]), (w, got[w], want[w])
