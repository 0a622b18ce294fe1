"""Graph operator tests: aggregate_messages, degrees, connected
components (vs a Python union-find ground truth), the iterative loops,
and the graph registry entries. The property tests that compare each
graph oracle (walks, motifs, Katz, ...) against a Python reference are
in tests/test_round*_properties.py."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from bigdatagenomic_spark.operators.graph import (
    aggregate_messages,
    connected_components,
    in_degrees,
    out_degrees,
    q_graph_cc,
)

from tests import test_edge_cases
from tests.helpers import SF, _md5_60, _q

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src LONG, dst LONG")


def test_degrees(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    assert {(r.id, r.out_degree) for r in out_degrees(e).collect()} == {(1, 2), (2, 1)}
    assert {(r.id, r.in_degree) for r in in_degrees(e).collect()} == {(2, 1), (3, 2)}


def test_aggregate_messages_gather_out(spark):
    """Mirrors the reference's find-max gather: each vertex pulls its
    out-neighbors' scores and keeps the max."""
    v = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.5)], "id LONG, score DOUBLE"
    )
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    got = {
        (r.id, r.msg_agg)
        for r in aggregate_messages(v, e, F.col("score"), "max").collect()
    }
    assert got == {(1, 0.9), (2, 0.5)}


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id in each set
    return {x: find(x) for x in parent}


def test_connected_components_two_islands(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (12, 11), (20, 20)])
    got = {(r.id, r.component) for r in connected_components(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20)}


def test_cc_matches_union_find_on_copurchase_graph(spark):
    df = q_graph_cc(spark, SF_DIR)
    got = {(r.id, r.component) for r in df.collect()}

    from bigdatagenomic_spark.sources.tables import load_table

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .where(F.col("l_orderkey") < 200)
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    pairs = [(r.l_orderkey, r.l_partkey + 1_000_000) for r in li]
    uf = _union_find(pairs)
    want = {(n, c) for n, c in uf.items() if n < 1_000_000}
    assert got == want


def test_pagerank_cycle_is_uniform(spark):
    """On a 3-cycle every vertex keeps rank 1.0 (mass n, uniform)."""
    from bigdatagenomic_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {r.id: r.rank for r in pagerank(edges, n_iter=5).collect()}
    assert got.keys() == {1, 2, 3}
    for v in got.values():
        assert abs(v - 1.0) < 1e-9


def test_pagerank_matches_python_power_iteration(spark):
    """Chain with a dangling tail: Spark ranks must match a pure-python
    power iteration of the identical update rule (incl. dangling mass)."""
    from bigdatagenomic_spark.operators.graph import pagerank

    e = [(1, 2), (1, 3), (2, 3)]  # vertex 3 dangles
    edges = spark.createDataFrame(e, "src long, dst long")
    verts = sorted({v for p in e for v in p})
    n, d = len(verts), 0.85
    out_deg = {1: 2, 2: 1}
    r = {v: 1.0 for v in verts}
    for _ in range(8):
        recv = {v: 0.0 for v in verts}
        for s, t in e:
            recv[t] += r[s] / out_deg[s]
        dmass = sum(r[v] for v in verts if v not in out_deg)
        r = {v: (1 - d) + d * (recv[v] + dmass / n) for v in verts}
    got = {row.id: row.rank for row in pagerank(edges, n_iter=8).collect()}
    assert got.keys() == r.keys()
    for v in r:
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    # mass conservation: dangling redistribution keeps sum(rank) == n
    assert abs(sum(got.values()) - n) < 1e-9


def test_cc_chain_and_islands(spark):
    """Longer chain + islands + self-loop: pointer jumping must still
    converge to min-reachable-id labels."""
    e = _edges(
        spark, [(1, 2), (2, 3), (3, 4), (5, 1), (10, 11), (12, 11), (20, 20)]
    )
    got = {(r.id, r.component) for r in connected_components(e).collect()}
    assert {(1, 1), (4, 1), (5, 1), (11, 10), (12, 10), (20, 20)} <= got


@pytest.mark.parametrize(
    "case",
    [
        test_connected_components_two_islands,
        test_cc_chain_and_islands,
        test_cc_matches_union_find_on_copurchase_graph,
        test_edge_cases.test_connected_components_no_edges,
    ],
    ids=lambda case: case.__name__,
)
def test_cc_cases_on_the_hash_min_loop(spark, driver_budget, case):
    """The CC tests above label their small graphs on the driver; the
    same checks must hold on the hash-min loop that large graphs take."""
    driver_budget(-1)
    case(spark)


@pytest.mark.parametrize(
    "pairs",
    [
        [],
        [(5, 5), (7, 7)],
        [(1, None), (None, 2), (2, 3)],
        [(1, 2), (1, 2), (2, 1), (3, 4), (4, 3), (4, 3), (6, 6), (6, 6)],
    ],
    ids=["empty", "self_loops", "null_ends", "duplicate_edges"],
)
def test_cc_paths_return_identical_frames(spark, driver_budget, pairs):
    """Driver union-find and hash-min loop: same schema, same rows."""
    e = _edges(spark, pairs)
    driver = connected_components(e)
    driver_budget(-1)
    loop = connected_components(e)
    assert driver.schema.simpleString() == loop.schema.simpleString()
    assert sorted(driver.collect(), key=repr) == sorted(loop.collect(), key=repr)


def test_q_graph_cc_job_count(spark):
    """On the sf0.001 tables the edge list fits the driver budget, so
    building and collecting q_graph_cc runs three jobs: the pin of the
    symmetrized edges (no distinct, so no shuffle), their Arrow collect
    and the caller's collect; the lineitem schema is declared, so no
    schema-inference job runs. The hash-min loop ran 55 (a checkpoint
    and a convergence job per round). The labels come back as one
    partition, so the ORDER BY sorts them in place; a range-partitioned
    sort of them cost 3 more jobs."""
    sc = spark.sparkContext
    group = "test-q-graph-cc-jobs"
    sc.setJobGroup(group, group)
    try:
        q_graph_cc(spark, SF_DIR).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 3, len(jobs)


def test_triangle_count_matches_bruteforce(spark):
    """Degree-oriented wedge closure == brute-force triple enumeration
    on seeded random graphs (including multi-edge/self-loop noise,
    which the operator must canonicalize away)."""
    import itertools
    import random

    from bigdatagenomic_spark.operators.graph import triangle_count

    for seed, n, p in [(7, 8, 0.5), (11, 12, 0.35), (13, 10, 0.6)]:
        rng = random.Random(seed)
        edges = [
            (a, b)
            for a in range(n)
            for b in range(n)
            if a != b and rng.random() < p
        ]
        edges += [(0, 0), (1, 1)]  # self loops: must be ignored
        und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        expect = sum(
            1
            for x, y, z in itertools.combinations(range(n), 3)
            if (x, y) in und and (x, z) in und and (y, z) in und
        )
        df = spark.createDataFrame(edges, "src long, dst long")
        got = triangle_count(df).collect()[0]
        assert got.n_triangles == expect, (seed, got, expect)
        assert got.n_wedges >= got.n_triangles


def test_label_propagation_hand_computed(spark):
    """Two triangles joined by one bridge edge: after enough synchronous
    least-label rounds each triangle converges to its own minimum
    label, and the bridge does not merge them (frequency 1 each side
    vs 2 inside the triangle)."""
    from bigdatagenomic_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src LONG, dst LONG",
    )
    out = {r.id: r.label for r in label_propagation(edges, n_iter=4).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != out[1]


def test_label_propagation_isolated_pair(spark):
    """A disconnected 2-cycle keeps oscillation bounded by the fixed
    iteration count and ends deterministically."""
    from bigdatagenomic_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(5, 6)], "src LONG, dst LONG")
    a = {(r.id, r.label) for r in label_propagation(edges, n_iter=4).collect()}
    b = {(r.id, r.label) for r in label_propagation(edges, n_iter=4).collect()}
    assert a == b  # deterministic replay
    # even iterations of a 2-cycle return each vertex to its own label
    assert a == {(5, 5), (6, 6)}


def test_tree_closure_depths_and_roots(spark):
    """Two trees: a chain (max depth) and a star (depth 1), plus a
    lone root; doubling must report exact depths for all."""
    from bigdatagenomic_spark.operators.graph import tree_closure

    rows = (
        [(1, 1), (2, 1), (3, 2), (4, 3), (5, 4)]        # chain 1<-2<-3<-4<-5
        + [(10, 10), (11, 10), (12, 10), (13, 10)]       # star rooted at 10
        + [(99, 99)]                                     # isolated root
    )
    parents = spark.createDataFrame(rows, "node LONG, parent LONG")
    out = {r.node: (r.root, r.depth) for r in tree_closure(parents, n_rounds=4).collect()}
    assert out[5] == (1, 4) and out[4] == (1, 3) and out[2] == (1, 1)
    assert out[1] == (1, 0)
    assert out[11] == (10, 1) and out[10] == (10, 0)
    assert out[99] == (99, 0)
    # extra rounds are no-ops, not drift
    again = {r.node: (r.root, r.depth) for r in tree_closure(parents, n_rounds=8).collect()}
    assert again == out


def test_unitig_compaction_planted(spark):
    """Planted graph: a 4-node chain (one junction-ended unitig), a
    branch whose two targets stay singletons, a 2-cycle (the case a
    head-chasing walk cannot terminate on), and an in-degree-2 merge
    point — all hand-checkable."""
    from bigdatagenomic_spark.operators.graph import unitig_compaction

    e = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),       # chain a-b-c-d
            ("d", "e"), ("d", "f"),                    # branch at d
            ("g", "h"), ("h", "g"),                    # isolated 2-cycle
            ("x", "y"), ("z", "y"),                    # merge at y
        ],
        "src STRING, dst STRING",
    )
    got = {
        (r.unitig_id, r.n_nodes, r.members)
        for r in unitig_compaction(e).collect()
    }
    assert got == {
        ("a", 4, "a,b,c,d"),
        ("e", 1, "e"),
        ("f", 1, "f"),
        ("g", 2, "g,h"),
        ("x", 1, "x"),
        ("y", 1, "y"),
        ("z", 1, "z"),
    }


def test_chain_paths_planted(spark):
    """Same planted graph as unitig compaction: the chain is ordered
    head-first by depth, singletons are depth-0 roots, and the isolated
    2-cycle (headless) is excluded entirely."""
    from bigdatagenomic_spark.operators.graph import chain_paths

    e = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),
            ("d", "e"), ("d", "f"),
            ("g", "h"), ("h", "g"),
            ("x", "y"), ("z", "y"),
        ],
        "src STRING, dst STRING",
    )
    got = {(r.node, r.root, r.depth) for r in chain_paths(e).collect()}
    assert got == {
        ("a", "a", 0), ("b", "a", 1), ("c", "a", 2), ("d", "a", 3),
        ("e", "e", 0), ("f", "f", 0),
        ("x", "x", 0), ("y", "y", 0), ("z", "z", 0),
    }


# Planted reads for the contig-spelling parity test: a linear chain
# (spells itself back), an ambiguous branch (2 singleton leaves + a
# 2-node head chain), and a pure 3-cycle (ATGATGATGA's de Bruijn graph
# is ATGA->TGAT->GATG->ATGA). Reads are DUPLICATED on purpose: dup
# k-mers put duplicate ids into the oracle's plain-UNION `nodes` CTE,
# which DuckDB may inline WITHOUT dedup inside WITH RECURSIVE (the
# b453be9 gotcha) — exactly the hazard that made q_asm_contig_spell red
# in round 7. The DISTINCT in `heads` below is load-bearing.
_SPELL_READS = [
    "AAAACGTT", "AAAACGTT",              # chain AAAA->AAAC->AACG->ACGT->CGTT
    "CCCCAG", "CCCCAT",                  # branch at CCCA; CCCC->CCCA unambig
    "ATGATGATGA", "ATGATGATGA",          # isolated 3-cycle (headless)
]

# Mirrors the registered q_asm_contig_spell oracle (queries.py) from the
# k-mer expansion down, over planted reads instead of `documents`.
_SPELL_ORACLE = """
WITH RECURSIVE km AS (
  SELECT unnest(list_transform(range(1, greatest(length(content) - 4, 1) + 1),
                               i -> substr(content, i, 5))) AS kmer
  FROM reads
), e AS MATERIALIZED (
  SELECT DISTINCT substr(kmer, 1, 4) AS src, substr(kmer, 2, 4) AS dst
  FROM km WHERE length(kmer) = 5
), o1 AS (SELECT src FROM e GROUP BY src HAVING count(*) = 1
), i1 AS (SELECT dst FROM e GROUP BY dst HAVING count(*) = 1
), ue AS MATERIALIZED (
  SELECT e.src, e.dst FROM e JOIN o1 USING (src) JOIN i1 USING (dst)
), nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e
), heads AS (
  SELECT DISTINCT id FROM nodes WHERE id NOT IN (SELECT dst FROM ue)
), walk AS (
  SELECT id AS root, id AS node, 0 AS depth FROM heads
  UNION ALL
  SELECT walk.root, ue.dst AS node, walk.depth + 1
  FROM walk JOIN ue ON ue.src = walk.node
)
SELECT root AS unitig_id, CAST(count(*) AS BIGINT) AS n_nodes,
       string_agg(CASE WHEN depth = 0 THEN node
                       ELSE substr(node, 4, 1) END, '' ORDER BY depth)
         AS sequence,
       CAST(length(string_agg(CASE WHEN depth = 0 THEN node
                                   ELSE substr(node, 4, 1) END,
                              '' ORDER BY depth)) AS BIGINT) AS seq_len
FROM walk GROUP BY root ORDER BY unitig_id
"""


def test_spell_contigs_planted_chain_cycle_oracle_parity(spark):
    """Oracle parity on a planted chain + branch + isolated cycle
    (VERDICT r7 #1/#6): spell_contigs and the DuckDB head-anchored
    recursive walk must agree row-for-row, including the contract that
    CYCLE members are excluded from spelling entirely (a cycle has no
    head). The planted reads are duplicated to arm the recursive-CTE
    duplicate-UNION hazard the round-7 oracle bug shipped with."""
    import duckdb

    from pyspark.sql import functions as F

    from bigdatagenomic_spark.operators.graph import spell_contigs

    k = 5
    reads = spark.createDataFrame(
        [(r,) for r in _SPELL_READS], "content STRING"
    )
    kmers = (
        reads.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(length(content) - {k - 1}, 1)),"
                    f" i -> substring(content, i, {k}))"
                )
            ).alias("kmer")
        )
        .where(F.length("kmer") == k)
    )
    edges = kmers.select(
        F.substring("kmer", 1, k - 1).alias("src"),
        F.substring("kmer", 2, k - 1).alias("dst"),
    )
    got = [
        (r.unitig_id, r.n_nodes, r.sequence, r.seq_len)
        for r in spell_contigs(edges, k).orderBy("unitig_id").collect()
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE reads AS SELECT * FROM (VALUES "
        + ", ".join(f"('{r}')" for r in _SPELL_READS)
        + ") t(content)"
    )
    want = con.sql(_SPELL_ORACLE).fetchall()
    assert got == [tuple(r) for r in want]

    # pin the hand-checkable expectation AND the cycle exclusion
    assert got == [
        ("AAAA", 5, "AAAACGTT", 8),
        ("CCAG", 1, "CCAG", 4),
        ("CCAT", 1, "CCAT", 4),
        ("CCCC", 2, "CCCCA", 5),
    ]
    spelled = {u for (u, _, _, _) in got}
    assert spelled.isdisjoint({"ATGA", "TGAT", "GATG"})


def test_k_core_planted_triangle_with_tail(spark):
    """2-core of triangle+tail = the triangle (tail peels iteratively:
    removing the leaf exposes the next vertex); 3-core of the same
    graph is empty; K4 survives its own 3-core intact."""
    from bigdatagenomic_spark.operators.graph import k_core

    tri_tail = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),          # triangle
         ("c", "d"), ("d", "e"), ("e", "f")],          # 3-vertex tail
        "src STRING, dst STRING",
    )
    got2 = {
        (r.id, r.core_degree) for r in k_core(tri_tail, k=2).collect()
    }
    assert got2 == {("a", 2), ("b", 2), ("c", 2)}
    assert k_core(tri_tail, k=3).count() == 0

    k4 = spark.createDataFrame(
        [(a, b) for a in "wxyz" for b in "wxyz" if a < b],
        "src STRING, dst STRING",
    )
    got3 = {(r.id, r.core_degree) for r in k_core(k4, k=3).collect()}
    assert got3 == {(v, 3) for v in "wxyz"}


def test_k_core_matches_python_peeling(spark):
    """Cross-check the distributed peeling against a straightforward
    in-memory peel on the sf0.001 co-purchase graph."""
    from bigdatagenomic_spark.operators.graph import q_graph_kcore
    from bigdatagenomic_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") < 200)
    items = {(r.l_orderkey, r.l_partkey) for r in li.select("l_orderkey", "l_partkey").distinct().collect()}
    by_part = {}
    for o, p in items:
        by_part.setdefault(p, set()).add(o)
    adj = {}
    for members in by_part.values():
        for a in members:
            for b in members:
                if a != b:
                    adj.setdefault(a, set()).add(b)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < 2]:
            for n in adj.pop(v):
                adj[n].discard(v)
            changed = True
    want = {(v, len(ns)) for v, ns in adj.items()}
    got = {(r.id, r.core_degree) for r in q_graph_kcore(spark, sf).collect()}
    assert got == want


def test_scc_planted_mixed_graph(spark):
    """Hand-computed SCCs on a graph exercising every algorithm phase:
    a 3-cycle (10,11,12) bridged one-way into a second 3-cycle
    (20,21,22), a pure chain 1→2→3 (all trim-phase singletons), a
    mutual pair (30,31), a self-loop vertex 40 (self-loops dropped —
    still a singleton, reached so it stays in the vertex set), and a
    middle vertex 5 with both in- and out-edges but no cycle (the case
    trim alone cannot remove — it must wait for coloring rounds)."""
    from bigdatagenomic_spark.operators.graph import (
        strongly_connected_components,
    )

    e = _edges(
        spark,
        [
            (10, 11), (11, 12), (12, 10),      # cycle A
            (12, 20),                          # one-way bridge A -> B
            (20, 21), (21, 22), (22, 20),      # cycle B
            (1, 2), (2, 3),                    # chain
            (30, 31), (31, 30),                # mutual pair
            (40, 40), (3, 40),                 # self-loop + feed-in
            (10, 5), (5, 20),                  # middle singleton 5
        ],
    )
    got = {(r.id, r.scc) for r in strongly_connected_components(e).collect()}
    assert got == {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (22, 20),
        (1, 1), (2, 2), (3, 3),
        (30, 30), (31, 30),
        (40, 40),
        (5, 5),
    }


@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_scc_matches_python_tarjan(spark):
    """The Spark trim+coloring result equals an iterative Tarjan run on
    the same derived temporal co-purchase edge set (independent
    algorithm, independent implementation — the unit-level analogue of
    the registry's transitive-closure oracle)."""
    from bigdatagenomic_spark.operators.graph import q_graph_scc

    rows = q_graph_scc(spark, SF_DIR).collect()
    got = {(r.id, r.scc) for r in rows}
    # rebuild the same edge set via plain collects (small bounded slice)
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .where(F.col("l_orderkey") < 400)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .where(F.col("o_orderkey") < 400)
        .select("o_orderkey", F.year("o_orderdate").alias("y"))
        .collect()
    )
    year = {r.o_orderkey: r.y for r in orders}
    by_part: dict[int, list[int]] = {}
    for r in li:
        by_part.setdefault(r.l_partkey, []).append(r.l_orderkey)
    adj: dict[int, set[int]] = {}
    verts: set[int] = set()
    for members in by_part.values():
        for a in members:
            for b in members:
                if a != b and year[a] <= year[b]:
                    adj.setdefault(a, set()).add(b)
                    verts.update((a, b))
    # iterative Tarjan
    index_of: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]

    def strongconnect(root):
        work = [(root, iter(sorted(adj.get(root, ()))))]
        index_of[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index_of:
                    index_of[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(sorted(adj.get(w, ())))))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index_of[w])
            if not advanced:
                work.pop()
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])
                if low[v] == index_of[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    sccs.append(comp)

    for v in sorted(verts):
        if v not in index_of:
            strongconnect(v)
    want = {(v, min(comp)) for comp in sccs for v in comp}
    assert got == want


def test_minimizers_hand_computed(spark):
    """(w=4, k=5) minimizer selection on a hand-worked read: every
    4-window's smallest (kmer, pos) pair, overlapping selections
    deduplicated. Read CACGTACGTACG (len 12, 8 k-mer positions,
    5 windows)."""
    from unittest import mock

    from bigdatagenomic_spark import queries as Q

    read = "CACGTACGTACG"
    reads = spark.createDataFrame(
        [(1, read)], "read_id LONG, content STRING"
    )
    with mock.patch.object(
        Q, "_minimizer_reads", lambda spark, sf_dir: reads
    ):
        got = {
            (r.read_id, r.kmer, r.pos)
            for r in Q._minimizers(spark, "unused").collect()
        }
    # k-mers at pos 1..8: CACGT ACGTA CGTAC GTACG TACGT ACGTA CGTAC GTACG
    # windows (pos i..i+3): min by (kmer, pos)
    #  1-4: ACGTA@2 | 2-5: ACGTA@2 | 3-6: ACGTA@6 | 4-7: ACGTA@6
    #  5-8: ACGTA@6
    assert got == {(1, "ACGTA", 2), (1, "ACGTA", 6)}


def test_minimizer_shared_stretch_guarantee(spark):
    """The winnowing/minimizer guarantee: two reads sharing an exact
    stretch of >= w+k-1 = 8 bp select at least one common minimizer
    k-mer inside it — so the overlap candidate join cannot miss a
    long overlap."""
    from unittest import mock

    from bigdatagenomic_spark import queries as Q

    shared = "TTGACGAT"  # 8 bp common stretch
    reads = spark.createDataFrame(
        [(1, "CCCC" + shared + "GGGG"), (2, "AAAA" + shared + "TTTT")],
        "read_id LONG, content STRING",
    )
    with mock.patch.object(
        Q, "_minimizer_reads", lambda spark, sf_dir: reads
    ):
        rows = Q._minimizers(spark, "unused").collect()
    k1 = {r.kmer for r in rows if r.read_id == 1}
    k2 = {r.kmer for r in rows if r.read_id == 2}
    shared_kmers = {shared[i : i + 5] for i in range(len(shared) - 4)}
    assert k1 & k2 & shared_kmers, (k1, k2)


def test_hits_exact_hand_computed(spark):
    """4-round exact-integer HITS on a 2-hub/2-authority bipartite
    graph, worked by hand. Edges: 1→10, 1→11, 2→10. Alternating
    integer sums: a=(auth 10, auth 11), h=(hub 1, hub 2):
    r1: a=(2,1) h=(3,2) | r2: a=(5,3) h=(8,5) | r3: a=(13,8) h=(21,13)
    | r4: a=(34,21) h=(55,34)  (Fibonacci — the 2x2 case's spectral
    recursion)."""
    from bigdatagenomic_spark.operators.graph import hits_exact

    e = _edges(spark, [(1, 10), (1, 11), (2, 10)])
    got = {(r.id, r.auth_n, r.hub_n) for r in hits_exact(e).collect()}
    assert got == {
        (1, 0, 55),
        (2, 0, 34),
        (10, 34, 0),
        (11, 21, 0),
    }


def test_bubbles_planted(spark):
    """A planted SNP bubble has the k-edge two-path shape the detector
    reports: the reads GATCAGTACGG and GATCCGTACGG differ at base 5
    only, so their k=5 de Bruijn graphs share src GATC and reconverge
    at GTAC after exactly 5 edges through 4 divergent interior
    nodes. Checked via the registered query's own algebra on a
    controlled two-read corpus (mocking the document load)."""
    from unittest import mock

    from pyspark.sql import functions as F

    from bigdatagenomic_spark import queries as Q
    from bigdatagenomic_spark.sources import tables as T

    docs = spark.createDataFrame(
        # doc_id 0 -> length 13; text cleans to itself (pure ACGT)
        [(0, "GATCAGTACGGTA", "en", "src0", 13)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    with mock.patch.object(T, "load_table", lambda spark, sf_dir, name: docs):
        rows = Q.queries()["q_asm_bubbles"](spark, "unused").collect()
    got = {(r.src, r.dst, r.n_paths) for r in rows}
    # base 7 flip (T -> A): GATCAG[T->A]ACGGTA... read length 13:
    # original GATCAGTACGGTA, mutant GATCAGAACGGTA -> divergence at
    # base 7, shared 4-mer src = TCAG (last node before the SNP
    # enters the window), reconvergence at ACGG + downstream; exactly
    # one (src, dst) pair at distance 5 with two interior paths.
    assert got, "planted SNP produced no bubble"
    for src, dst, n in got:
        assert n >= 2
    # the canonical SNP pair: src TCAG (prefix before divergence),
    # dst ACGG (first shared 4-mer after the divergent base washes out)
    assert ("TCAG", "ACGG", 2) in got, got


def test_bubbles_nondegenerate_on_testdata(spark):
    """The registered derivation (reads + planted base-7 mutants) must
    yield a non-empty, contract-honoring bubble set on the real
    documents table — guards against the detector silently becoming
    structurally empty (the length-2-path form was)."""
    from bigdatagenomic_spark import queries as Q

    rows = Q.queries()["q_asm_bubbles"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_paths >= 2 and r.src != r.dst


def test_tandem_repeats_hand_computed(spark):
    """AAAATGTGTGCC: homopolymer AAAA (4), period-2 chain
    A A A A T G T G T G (f2 true at positions 3,4 and 7..10 →
    longest run 4 → 6 bases TGTGTG? verify: s=AAAATGTGTGCC,
    f2(i)=s[i]==s[i-2]: i3:A=A 1, i4:A=A 1, i5:T=A 0, i6:G=A 0,
    i7:T=T 1, i8:G=G 1, i9:T=T 1, i10:G=G 1, i11:C=T 0, i12:C=G 0
    → runs: 2 (AAAA) and 4 (TGTGTG) → max_period2 = 4+2 = 6."""
    from unittest import mock

    from bigdatagenomic_spark import queries as Q
    from bigdatagenomic_spark.sources import tables as T

    docs = spark.createDataFrame(
        [(0, "AAAATGTGTGCCX", "en", "src0", 13)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    with mock.patch.object(T, "load_table", lambda spark, sf_dir, name: docs):
        rows = Q.queries()["q_asm_tandem_repeats"](spark, "unused").collect()
    # doc_id 0 -> read length 13; cleaned drops X -> AAAATGTGTGCC (12),
    # rpad to 17 with 'A', cut to 13 -> AAAATGTGTGCCA
    assert [(r.read_id, r.max_homopolymer, r.max_period2) for r in rows] == [
        (0, 4, 6)
    ]


def test_low_complexity_flags_homopolymer(spark):
    """A pure-A read maxes the DUST collision mass and is flagged; a
    high-complexity read is not."""
    from unittest import mock

    from bigdatagenomic_spark import queries as Q
    from bigdatagenomic_spark.sources import tables as T

    docs = spark.createDataFrame(
        [(0, "", "en", "src0", 0),            # cleans empty -> AAAA... pad
         (1, "ACGTACGTGGTACCATT", "en", "src0", 17)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    with mock.patch.object(T, "load_table", lambda spark, sf_dir, name: docs):
        rows = {r.read_id: r for r in
                Q.queries()["q_asm_low_complexity"](spark, "unused").collect()}
    assert rows[0].low_complexity == 1          # AAAAAAAAAAAAA
    assert rows[1].low_complexity == 0
    # exact DUST integers for the homopolymer: 11 AAA triplets ->
    # num = 11*10 = 110, den = 10
    assert (rows[0].dust_num, rows[0].dust_den) == (110, 10)


@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_tip_unitigs_planted(spark):
    """Planted junction graph: main path A->B->C->D with a 1-node head
    tip X->B and a branch C->Y (Y dangles). Expected tips: A and X
    (head-dangling singles hanging into junction B), D and Y
    (tail-dangling singles hanging off branch point C). The internal
    B->C chain dangles at NEITHER end and the isolated P->Q chain
    dangles at BOTH ends — neither is a tip."""
    from bigdatagenomic_spark.operators.graph import tip_unitigs

    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("X", "B"), ("C", "Y"),
         ("P", "Q")],
        "src STRING, dst STRING",
    )
    got = {(r.unitig_id, r.n_nodes, r.tip_end)
           for r in tip_unitigs(e).collect()}
    assert got == {
        ("A", 1, "head"), ("X", 1, "head"),
        ("D", 1, "tail"), ("Y", 1, "tail"),
    }
    # threshold: with tip_len=0 nothing qualifies
    assert tip_unitigs(e, tip_len=0).count() == 0


def test_k_core_converges_within_oracle_bound(spark):
    """The DuckDB oracle replays peeling unrolled to KCORE_ORACLE_ROUNDS;
    it is exact iff Spark's fixpoint peel converges within that bound on
    the data it is checked against. Assert that on EVERY testdata SF
    (the docstring-claimed test — ADVICE r8)."""
    import pytest

    from bigdatagenomic_spark.operators.graph import (
        KCORE_ORACLE_ROUNDS,
        k_core,
    )
    from bigdatagenomic_spark.sources.tables import load_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        li = load_table(spark, f"/root/testdata/{sf}", "lineitem").where(
            F.col("l_orderkey") < 200
        )
        items = li.select("l_orderkey", "l_partkey").distinct()
        o1 = items.select(F.col("l_orderkey").alias("src"), "l_partkey")
        o2 = items.select(F.col("l_orderkey").alias("dst"), "l_partkey")
        edges = (
            o1.join(o2, "l_partkey")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        rounds: list[int] = []
        k_core(edges, k=2, rounds_out=rounds).count()
        assert rounds[0] <= KCORE_ORACLE_ROUNDS, (
            f"{sf}: peel took {rounds[0]} rounds > oracle bound "
            f"{KCORE_ORACLE_ROUNDS} — the unrolled oracle would diverge"
        )


def test_scc_empty_and_nonconvergent_inputs(spark):
    """SCC must not silently drop rows: an edge-free input returns an
    EMPTY (id, scc) frame (not IndexError), and exhausting max_outer
    raises instead of returning a partial result (ADVICE r8)."""
    import pytest

    from bigdatagenomic_spark.operators.graph import (
        strongly_connected_components,
    )

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    out = strongly_connected_components(empty)
    assert out.columns == ["id", "scc"] and out.count() == 0
    # only self-loops: dropped up front -> also the empty frame
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src LONG, dst LONG")
    assert strongly_connected_components(loops).count() == 0

    # a 2-deep SCC-DAG chain of 2-cycles with max_outer=1: round 1
    # resolves only the source SCC, so the cap must raise loudly
    chain = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)], "src LONG, dst LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(chain, max_outer=1)


def test_ppr_mass_conservation_and_source_locality(spark):
    from bigdatagenomic_spark.operators.graph import PPR_N_SOURCES

    rows = _q("q_graph_ppr")(spark, SF).collect()
    total = sum(r.rank for r in rows)
    # mass 1 by construction (teleport + dangling both renormalize to
    # the source set); rounding at 1e-4 x |V| bounds the drift
    assert total == pytest.approx(1.0, abs=1e-3 + 1e-4 * len(rows))
    srcs = sorted(r.id for r in rows)[:PPR_N_SOURCES]
    src_mass = sum(r.rank for r in rows if r.id in set(srcs))
    # walks restart at the sources: they must hold well above the
    # uniform share of the mass
    assert src_mass > PPR_N_SOURCES / len(rows) * 5


def test_linkpred_scores_are_valid_jaccards(spark):
    rows = _q("q_graph_linkpred")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.a_id < r.b_id
        assert r.n_common >= 1
        assert 0 < r.jacc <= 1.0


# ---------------------------------------------------------------------------
# walks: every hop is a real edge chosen by the hash-argmin rule
# ---------------------------------------------------------------------------

def test_walks_follow_hash_argmin_edges(spark):
    from bigdatagenomic_spark.operators.graph import (
        NEIGHBOR_AGG_MAX_ORDERKEY,
        WALK_STEPS,
        q_graph_walks,
    )
    from bigdatagenomic_spark.sources.tables import load_table

    o = (
        load_table(spark, SF_DIR, "orders")
        .where(F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY)
        .select("o_orderkey", "o_custkey")
        .collect()
    )
    by_key = {r["o_orderkey"]: r["o_custkey"] for r in o}
    edges: dict[int, set[int]] = {}
    for k, src in by_key.items():
        dst = by_key.get(k + 1)
        if dst is not None and dst != src:
            edges.setdefault(src, set()).add(dst)
    walks = q_graph_walks(spark, SF_DIR).collect()
    assert walks
    for r in walks:
        cur = r["v0"]
        for s in range(1, WALK_STEPS + 1):
            nxt = r[f"v{s}"]
            if cur is None or cur not in edges:
                assert nxt is None
                cur = None
                continue
            want = min(
                edges[cur], key=lambda d: (_md5_60(f"{s}:{cur}:{d}"), d)
            )
            assert nxt == want
            cur = nxt


# ---------------------------------------------------------------------------
# assortativity: zero-variance (regular graph) and empty-graph edges
# ---------------------------------------------------------------------------

def test_assortativity_regular_graph_yields_null_not_crash(spark, tmp_path):
    """A triangle (all degrees equal) has zero degree variance: the
    CASE guard must emit NULL — F.corr in aggregate position would
    throw DIVIDE_BY_ZERO under ANSI (the q_x_acf lesson)."""
    import pandas as pd

    # three orders sharing pairwise parts -> triangle, every degree 2
    li = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 2, 3, 3, 1],
            "l_partkey": [10, 10, 20, 20, 30, 30],
        }
    )
    spark.createDataFrame(li).write.parquet(str(tmp_path / "lineitem.parquet"))
    from bigdatagenomic_spark.operators.graph import (
        q_graph_degree_assortativity,
    )

    (row,) = q_graph_degree_assortativity(spark, str(tmp_path)).collect()
    assert row.n_edges == 3
    assert row.sum_deg == 12
    assert row.assortativity is None


def test_assortativity_empty_graph_single_null_row(spark, tmp_path):
    import pandas as pd

    li = pd.DataFrame({"l_orderkey": [5], "l_partkey": [10]})  # no co-pairs
    spark.createDataFrame(li).write.parquet(str(tmp_path / "lineitem.parquet"))
    from bigdatagenomic_spark.operators.graph import (
        q_graph_degree_assortativity,
    )

    (row,) = q_graph_degree_assortativity(spark, str(tmp_path)).collect()
    assert row.n_edges == 0
    assert row.assortativity is None


def test_two_hop_excludes_direct_neighbors(spark, tmp_path):
    """Path graph 1-2-3: node 1 reaches 3 in exactly two hops; node 2
    reaches nothing new (both neighbors direct)."""
    import pandas as pd

    li = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 2, 3],
            "l_partkey": [10, 10, 20, 20],
        }
    )
    spark.createDataFrame(li).write.parquet(str(tmp_path / "lineitem.parquet"))
    from bigdatagenomic_spark.operators.graph import q_graph_two_hop

    rows = {r.id: r for r in q_graph_two_hop(spark, str(tmp_path)).collect()}
    assert rows[1].degree == 1 and rows[1].n_2hop == 1
    assert rows[2].degree == 2 and rows[2].n_2hop == 0
    assert rows[3].degree == 1 and rows[3].n_2hop == 1
