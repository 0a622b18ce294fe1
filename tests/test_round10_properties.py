"""Property tests for the round-10 oracle semantics, engine-independent:
each test pits the DuckDB oracle SQL against a from-scratch Python
reference on hypothesis-generated inputs (the tests/test_round9_properties
pattern). The Spark implementations are hash-pinned to these same oracles
by tests/test_relational_oracle.py / tools/preflight.py, so agreement here
transitively validates both engines. DuckDB-only — no SparkSession."""

from __future__ import annotations

import datetime
import math
import re

import duckdb
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from bigdatagenomic_spark.operators.graph import (
    NEIGHBOR_AGG_MAX_ORDERKEY,
    Q_GRAPH_NEIGHBOR_AGG_SQL,
    Q_GRAPH_WALKS_SQL,
    WALK_N_STARTS,
    WALK_STEPS,
)
from bigdatagenomic_spark.operators.relational_ext import Q_X_SKYLINE_SQL
from bigdatagenomic_spark.operators.scale import Q_X_JOIN_SIZE_SQL
from bigdatagenomic_spark.operators.stats import (
    CALIB_N_BINS,
    LEVEL_SHIFT_W,
    Q_X_CALIBRATION_SQL,
    Q_X_LEVEL_SHIFT_SQL,
    Q_X_SAX_SQL,
    SAX_ALPHABET,
    SAX_WEEK_DAYS,
)
from bigdatagenomic_spark.operators.text import (
    NOVELTY_N,
    Q_TEXT_ENTROPY_SQL,
    Q_TEXT_NOVELTY_SQL,
)

from tests.helpers import _md5_60, _round_half_away, _tokens


# ---------------------------------------------------------------------------
# skyline vs brute-force NOT-EXISTS dominance
# ---------------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_oracle_matches_brute_force(points):
    # price on a coarse decimal grid to exercise ties in both coords
    rows = [
        (i, p / 4.0, s) for i, (p, s) in enumerate(points)
    ]
    ref = sorted(
        k
        for k, price, size in rows
        if not any(
            (p2 <= price and s2 >= size and (p2 < price or s2 > size))
            for _, p2, s2 in rows
        )
    )
    con = duckdb.connect()
    con.register(
        "part",
        pd.DataFrame(
            rows, columns=["p_partkey", "p_retailprice", "p_size"]
        ),
    )
    got = [r[0] for r in con.sql(Q_X_SKYLINE_SQL).fetchall()]
    assert got == ref


# ---------------------------------------------------------------------------
# token entropy vs math.log reference
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c1.", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_entropy_oracle_matches_python_reference(texts):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {r[0]: r[1:] for r in con.sql(Q_TEXT_ENTROPY_SQL).fetchall()}
    for i, text in enumerate(texts):
        toks = _tokens(text)
        if not toks:
            assert i not in got
            continue
        n = len(toks)
        counts = [toks.count(t) for t in sorted(set(toks))]
        ent = math.log(n) - sum(c * math.log(c) for c in counts) / n
        n_tok, n_typ, got_ent = got[i]
        assert (n_tok, n_typ) == (n, len(counts))
        # same grid snap; allow one 1e-4 step for libm/fold divergence
        ref = math.floor(ent * 10000 + 0.5) / 10000
        assert abs(got_ent - ref) < 1.5e-4


# ---------------------------------------------------------------------------
# n-gram novelty vs python shingle reference
# ---------------------------------------------------------------------------

def _shingles(text: str) -> set[int]:
    toks = _tokens(text)
    hi = max(len(toks) - (NOVELTY_N - 1), 1)
    out = set()
    for i in range(hi):
        out.add(_md5_60(" ".join(toks[i : i + NOVELTY_N])))
    return out


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc de", min_size=0, max_size=80),
        min_size=1,
        max_size=8,
    )
)
def test_novelty_oracle_matches_python_reference(texts):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {r[0]: r[1:] for r in con.sql(Q_TEXT_NOVELTY_SQL).fetchall()}
    sh = {i: _shingles(t) for i, t in enumerate(texts)}
    df: dict[int, int] = {}
    for s in sh.values():
        for h in s:
            df[h] = df.get(h, 0) + 1
    for i in range(len(texts)):
        n_sh = len(sh[i])
        n_novel = sum(1 for h in sh[i] if df[h] == 1)
        assert got[i] == (n_sh, n_novel, n_novel * 1000000 // n_sh)


# ---------------------------------------------------------------------------
# neighbor aggregation vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(0, 8), min_size=2, max_size=30),
    st.data(),
)
def test_neighbor_agg_oracle_matches_python_reference(custs, data):
    cents = {
        c: data.draw(st.integers(-5000, 5000), label=f"bal{c}")
        for c in set(custs)
    }
    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(custs)),
            "o_custkey": custs,
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": list(cents),
            "c_acctbal": [v / 100.0 for v in cents.values()],
        }
    )
    assert len(custs) < NEIGHBOR_AGG_MAX_ORDERKEY
    con = duckdb.connect()
    con.register("orders", orders)
    con.register("customer", customer)
    got = con.sql(Q_GRAPH_NEIGHBOR_AGG_SQL).fetchall()

    nbrs: dict[int, set[int]] = {}
    for a, b in zip(custs, custs[1:]):
        if a != b:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    h1 = {
        v: (sum(cents[u] for u in ns), len(ns)) for v, ns in nbrs.items()
    }
    def tdiv(a: int, b: int) -> int:
        # SQL integer division truncates toward zero (Spark `div`,
        # DuckDB `//`); Python `//` floors — adjust for negatives
        if b == 0:
            return 0
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    ref = []
    for v in sorted(h1):
        s1, d = h1[v]
        s2 = sum(h1[u][0] for u in nbrs[v] if u in h1)
        w2 = sum(h1[u][1] for u in nbrs[v] if u in h1)
        ref.append((v, d, s1, tdiv(1000 * s1, d), s2, w2, tdiv(1000 * s2, w2)))
    assert got == ref


# ---------------------------------------------------------------------------
# deterministic walks vs python hash-argmin simulation
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 9), min_size=2, max_size=40))
def test_walks_oracle_matches_python_reference(custs):
    orders = pd.DataFrame(
        {"o_orderkey": range(len(custs)), "o_custkey": custs}
    )
    con = duckdb.connect()
    con.register("orders", orders)
    got = con.sql(Q_GRAPH_WALKS_SQL).fetchall()

    edges: dict[int, set[int]] = {}
    for a, b in zip(custs, custs[1:]):
        if a != b:
            edges.setdefault(a, set()).add(b)
    starts = sorted(edges)[:WALK_N_STARTS]
    ref = []
    for w in starts:
        walk = [w]
        cur = w
        for s in range(1, WALK_STEPS + 1):
            if cur is None or cur not in edges:
                walk.append(None)
                cur = None
                continue
            src = cur
            cur = min(
                edges[src],
                key=lambda d: (_md5_60(f"{s}:{src}:{d}"), d),
            )
            walk.append(cur)
        ref.append((w, *walk))
    assert got == ref


# ---------------------------------------------------------------------------
# join-size estimation vs exact python self-join count
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 6), min_size=1, max_size=40))
def test_join_size_oracle_matches_exact_count(users):
    ev = pd.DataFrame({"event_id": range(len(users)), "user_id": users})
    con = duckdb.connect()
    con.register("events", ev)
    ((n_keys, est_rows, top_user, top_pairs),) = con.sql(
        Q_X_JOIN_SIZE_SQL
    ).fetchall()
    exact = sum(1 for a in users for b in users if a == b)
    counts: dict[int, int] = {}
    for u in users:
        counts[u] = counts.get(u, 0) + 1
    assert n_keys == len(counts)
    assert est_rows == exact
    ref_top = max(counts, key=lambda u: (counts[u] * counts[u], u))
    assert (top_user, top_pairs) == (
        ref_top,
        counts[ref_top] * counts[ref_top],
    )


# ---------------------------------------------------------------------------
# level-shift screen vs python rolling sums
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.sampled_from(["a", "b"])),
        min_size=1,
        max_size=120,
    )
)
def test_level_shift_oracle_matches_python_reference(raw):
    ev = pd.DataFrame(
        {
            "event_id": range(len(raw)),
            "ts": [
                datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)
                for d, _ in raw
            ],
            "event_type": [t for _, t in raw],
        }
    )
    con = duckdb.connect()
    con.register("events", ev)
    got = con.sql(Q_X_LEVEL_SHIFT_SQL).fetchall()

    ref = []
    for typ in sorted({t for _, t in raw}):
        daily: dict[int, int] = {}
        for d, t in raw:
            if t == typ:
                daily[d] = daily.get(d, 0) + 1
        days = sorted(daily)
        for i, d in enumerate(days):
            if i < LEVEL_SHIFT_W or i + LEVEL_SHIFT_W > len(days):
                continue
            prev = sum(daily[x] for x in days[i - LEVEL_SHIFT_W : i])
            nxt = sum(daily[x] for x in days[i : i + LEVEL_SHIFT_W])
            ref.append(
                (
                    typ,
                    (datetime.datetime(2024, 1, 1)
                     + datetime.timedelta(days=d)).date(),
                    daily[d],
                    prev,
                    nxt,
                    nxt - prev,
                    abs(nxt - prev) * 20 >= 3 * (prev + nxt),
                )
            )
    assert got == ref


# ---------------------------------------------------------------------------
# calibration bins vs python md5 reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**6),
            st.sampled_from(["purchase", "click", "view"]),
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda r: r[0],
    )
)
def test_calibration_oracle_matches_python_reference(rows):
    ev = pd.DataFrame(
        {
            "event_id": [i for i, _ in rows],
            "event_type": [t for _, t in rows],
        }
    )
    con = duckdb.connect()
    con.register("events", ev)
    got = con.sql(Q_X_CALIBRATION_SQL).fetchall()

    bins: dict[int, list[int]] = {}
    for i, t in rows:
        sm = _md5_60(str(i)) % 1000
        b = sm * CALIB_N_BINS // 1000
        n, pos, ssm = bins.get(b, [0, 0, 0])
        bins[b] = [n + 1, pos + (1 if t == "purchase" else 0), ssm + sm]
    ref = [
        (b, n, pos, ssm, abs(1000 * pos - ssm))
        for b, (n, pos, ssm) in sorted(bins.items())
    ]
    assert got == ref


# ---------------------------------------------------------------------------
# SAX symbolization vs python ntile reference
# ---------------------------------------------------------------------------

def _ntile(n_buckets: int, n_rows: int) -> list[int]:
    """Bucket id (1-based) per row position, SQL NTILE semantics."""
    base, extra = divmod(n_rows, n_buckets)
    out = []
    for b in range(1, n_buckets + 1):
        out.extend([b] * (base + (1 if b <= extra else 0)))
    return out


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 400), min_size=1, max_size=120))
def test_sax_oracle_matches_python_reference(day_offsets):
    base = datetime.datetime(1995, 1, 1)
    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(day_offsets)),
            "o_orderdate": [
                base + datetime.timedelta(days=d) for d in day_offsets
            ],
        }
    )
    con = duckdb.connect()
    con.register("orders", orders)
    got = con.sql(Q_X_SAX_SQL).fetchall()

    epoch = datetime.datetime(1970, 1, 1)
    weekly: dict[int, int] = {}
    for d in day_offsets:
        week = ((base + datetime.timedelta(days=d)) - epoch).days // SAX_WEEK_DAYS
        weekly[week] = weekly.get(week, 0) + 1
    order = sorted(weekly, key=lambda w: (weekly[w], w))
    tiles = _ntile(SAX_ALPHABET, len(order))
    q_of = {w: tiles[i] for i, w in enumerate(order)}
    ref = [
        (w, weekly[w], q_of[w], "abcd"[q_of[w] - 1]) for w in sorted(weekly)
    ]
    assert got == ref


# ---------------------------------------------------------------------------
# wave 2: seasonal decomposition vs python reference
# ---------------------------------------------------------------------------

def _tdiv(a: int, b: int) -> int:
    if b == 0:
        return 0
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 60), min_size=1, max_size=80))
def test_seasonal_decompose_oracle_matches_python(day_offsets):
    from bigdatagenomic_spark.operators.stats import Q_X_SEASONAL_DECOMPOSE_SQL

    base = datetime.datetime(2024, 1, 1)  # a Monday
    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(day_offsets)),
            "o_orderdate": [
                base + datetime.timedelta(days=d) for d in day_offsets
            ],
        }
    )
    con = duckdb.connect()
    con.register("orders", orders)
    got = con.sql(Q_X_SEASONAL_DECOMPOSE_SQL).fetchall()

    daily: dict[int, int] = {}
    for d in day_offsets:
        daily[d] = daily.get(d, 0) + 1
    by_dow: dict[int, list[int]] = {}
    for d, n in daily.items():
        by_dow.setdefault(d % 7 + 1, []).append(n)  # Jan 1 2024 = Monday
    dow_mean = {
        w: _tdiv(1000 * sum(ns), len(ns)) for w, ns in by_dow.items()
    }
    ref = [
        (
            (base + datetime.timedelta(days=d)).date(),
            d % 7 + 1,
            daily[d],
            dow_mean[d % 7 + 1],
            1000 * daily[d] - dow_mean[d % 7 + 1],
        )
        for d in sorted(daily)
    ]
    assert got == ref


# ---------------------------------------------------------------------------
# wave 2: directed motif census vs brute-force python
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 7), min_size=2, max_size=40))
def test_motifs_oracle_matches_brute_force(custs):
    from bigdatagenomic_spark.operators.graph import Q_GRAPH_MOTIFS_SQL

    orders = pd.DataFrame(
        {"o_orderkey": range(len(custs)), "o_custkey": custs}
    )
    con = duckdb.connect()
    con.register("orders", orders)
    ((n_wedges, n_ffl, n_cycles),) = con.sql(Q_GRAPH_MOTIFS_SQL).fetchall()

    edges = {
        (a, b) for a, b in zip(custs, custs[1:]) if a != b
    }
    wedges = [
        (a, b, c)
        for (a, b) in edges
        for (b2, c) in edges
        if b2 == b and c != a
    ]
    ref_ffl = sum(1 for (a, b, c) in wedges if (a, c) in edges)
    ref_cyc = sum(1 for (a, b, c) in wedges if (c, a) in edges)
    assert ref_cyc % 3 == 0
    assert (n_wedges, n_ffl, n_cycles) == (
        len(wedges),
        ref_ffl,
        ref_cyc // 3,
    )


# ---------------------------------------------------------------------------
# wave 2: k-mer entropy vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ACGTx ", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    )
)
def test_kmer_entropy_oracle_matches_python(texts):
    from bigdatagenomic_spark.queries import _REGISTRY

    sql = _REGISTRY["q_asm_kmer_entropy"][1]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {r[0]: r[1:] for r in con.sql(sql).fetchall()}
    for i, text in enumerate(texts):
        if i >= 60:
            continue
        cleaned = re.sub("[^ACGT]", "", text.upper())
        length = 13 + (i % 3) * 2
        content = (cleaned + "A" * 17)[:length]
        kmers = [content[j : j + 3] for j in range(len(content) - 2)]
        n = len(kmers)
        counts = [kmers.count(k) for k in sorted(set(kmers))]
        ent = math.log(n) - sum(c * math.log(c) for c in counts) / n
        ref_ent = math.floor(ent * 10000 + 0.5) / 10000
        n_k, n_d, got_ent = got[i]
        assert (n_k, n_d) == (n, len(counts))
        assert abs(got_ent - ref_ent) < 1.5e-4


# ---------------------------------------------------------------------------
# wave 2: pixel stats vs python fake-RGB reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=50,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_pixel_stats_oracle_matches_fake_decoder(texts):
    from bigdatagenomic_spark.operators.multimodal import (
        Q_MM_PIXEL_STATS_SQL,
        fake_rgb_decoder,
    )

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {r[0]: r[1:] for r in con.sql(Q_MM_PIXEL_STATS_SQL).fetchall()}
    for i, text in enumerate(texts):
        n_px, sr, sg, sb = fake_rgb_decoder(text.encode("utf-8"))
        if n_px == 0:
            assert i not in got
            continue
        lum = (299 * sr + 587 * sg + 114 * sb) // n_px
        assert got[i] == (n_px, sr, sg, sb, lum)


# ---------------------------------------------------------------------------
# wave 3: ACF vs python Pearson reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 5)),
        min_size=2,
        max_size=60,
        unique_by=lambda r: r[0],
    )
)
def test_acf_oracle_matches_python_reference(day_counts):
    from bigdatagenomic_spark.operators.stats import ACF_MAX_LAG, Q_X_ACF_SQL

    base = datetime.datetime(2020, 3, 1)
    rows = []
    next_id = 0
    for d, n in day_counts:
        for _ in range(n):
            rows.append((next_id, base + datetime.timedelta(days=d)))
            next_id += 1
    orders = pd.DataFrame(rows, columns=["o_orderkey", "o_orderdate"])
    con = duckdb.connect()
    con.register("orders", orders)
    got = {r[0]: r[1:] for r in con.sql(Q_X_ACF_SQL).fetchall()}

    daily = sorted(day_counts)
    series = [n for _, n in daily]
    for lag in range(1, ACF_MAX_LAG + 1):
        xs = series[lag:]
        ys = series[:-lag] if lag < len(series) else []
        n_pairs, acf = got[lag]
        assert n_pairs == len(xs) if lag < len(series) else n_pairs == 0
        if len(xs) < 2:
            assert acf is None
            continue
        mx = sum(xs) / len(xs)
        my = sum(ys) / len(ys)
        sxx = sum((x - mx) ** 2 for x in xs)
        syy = sum((y - my) ** 2 for y in ys)
        sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        if sxx == 0 or syy == 0:
            assert acf is None
            continue
        ref = sxy / math.sqrt(sxx * syy)
        assert abs(acf - round(ref, 6)) < 2e-6


# ---------------------------------------------------------------------------
# wave 3: sentence stats vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c.!?", min_size=0, max_size=80),
        min_size=1,
        max_size=8,
    )
)
def test_sentences_oracle_matches_python_reference(texts):
    from bigdatagenomic_spark.operators.text import Q_TEXT_SENTENCES_SQL

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {r[0]: r[1:] for r in con.sql(Q_TEXT_SENTENCES_SQL).fetchall()}
    for i, text in enumerate(texts):
        sents = [s for s in re.split(r"[.!?]+", text) if s.strip() != ""]
        if not sents:
            assert i not in got
            continue
        wc = [len(_tokens(s)) for s in sents]
        assert got[i] == (
            len(sents),
            sum(wc),
            max(wc),
            1000 * sum(wc) // len(sents),
        )


# ---------------------------------------------------------------------------
# wave 3: Katz centrality vs python path counting
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 7), min_size=2, max_size=30))
def test_katz_oracle_matches_python_path_counts(custs):
    from bigdatagenomic_spark.operators.graph import (
        KATZ_ROUNDS,
        Q_GRAPH_KATZ_SQL,
    )

    orders = pd.DataFrame(
        {"o_orderkey": range(len(custs)), "o_custkey": custs}
    )
    con = duckdb.connect()
    con.register("orders", orders)
    got = dict(con.sql(Q_GRAPH_KATZ_SQL).fetchall())

    edges = {(a, b) for a, b in zip(custs, custs[1:]) if a != b}
    verts = {v for e in edges for v in e}
    p = {v: 1 for v in verts}
    score = {v: 0 for v in verts}
    for k in range(1, KATZ_ROUNDS + 1):
        nxt: dict[int, int] = {}
        for a, b in edges:
            if a in p:
                nxt[b] = nxt.get(b, 0) + p[a]
        p = nxt
        w = 1 << (KATZ_ROUNDS - k)
        for v, c in p.items():
            score[v] += c * w
    assert got == score


# ---------------------------------------------------------------------------
# wave 3: filtered top-k vs python brute force
# ---------------------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # label
            st.lists(
                st.integers(-4, 4), min_size=3, max_size=3
            ),  # embedding
        ),
        min_size=2,
        max_size=20,
    )
)
def test_filtered_topk_oracle_matches_python(rows):
    from bigdatagenomic_spark.operators.similarity import N_QUERIES, TOP_K
    from bigdatagenomic_spark.queries import _REGISTRY

    sql = _REGISTRY["q_sim_filtered_topk"][1]
    emb = pd.DataFrame(
        {
            "vec_id": range(len(rows)),
            "embedding": [[float(x) for x in v] for _, v in rows],
            "label": [lbl for lbl, _ in rows],
        }
    )
    con = duckdb.connect()
    con.register("embeddings", emb)
    got = [tuple(r) for r in con.sql(sql).fetchall()]

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return None
        return _round_half_away(num / (na * nb), 4)

    ref = []
    for qid in range(min(N_QUERIES, len(rows))):
        qlbl, qv = rows[qid]
        cands = []
        for cid, (clbl, cv) in enumerate(rows):
            if cid == qid or clbl != qlbl:
                continue
            cands.append((cos(qv, cv), cid))
        cands.sort(key=lambda t: (-(t[0] if t[0] is not None else -9e9), t[1]))
        for rn, (sim, cid) in enumerate(cands[:TOP_K], start=1):
            ref.append((qid, qlbl, cid, sim, rn))
    # NULL sims (zero vectors) sort engine-specifically; restrict the
    # comparison to runs with no zero vector among scored pairs
    if any(s is None for (_, _, _, s, _) in ref) or any(
        s is None for (_, _, _, s, _) in got
    ):
        return
    assert got == ref


# ---------------------------------------------------------------------------
# wave 4: clustering coefficient vs brute-force python
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(0, 7), min_size=2, max_size=40))
def test_clustering_coeff_oracle_matches_brute_force(custs):
    from bigdatagenomic_spark.operators.graph import (
        Q_GRAPH_CLUSTERING_COEFF_SQL,
    )

    orders = pd.DataFrame(
        {"o_orderkey": range(len(custs)), "o_custkey": custs}
    )
    con = duckdb.connect()
    con.register("orders", orders)
    got = {r[0]: r[1:] for r in con.sql(Q_GRAPH_CLUSTERING_COEFF_SQL).fetchall()}

    und = {
        (min(a, b), max(a, b))
        for a, b in zip(custs, custs[1:])
        if a != b
    }
    nbrs: dict[int, set[int]] = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for v, ns in nbrs.items():
        deg = len(ns)
        tri = sum(
            1
            for u in ns
            for w in ns
            if u < w and (min(u, w), max(u, w)) in und
        )
        cc = 2 * tri * 1000000 // (deg * (deg - 1)) if deg >= 2 else 0
        assert got[v] == (deg, tri, cc)
    assert set(got) == set(nbrs)


# ---------------------------------------------------------------------------
# wave 4: GC skew vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ACGTu", min_size=0, max_size=30),
        min_size=1,
        max_size=10,
    )
)
def test_gc_skew_oracle_matches_python(texts):
    from bigdatagenomic_spark.queries import _REGISTRY

    sql = _REGISTRY["q_asm_gc_skew"][1]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = con.sql(sql).fetchall()
    ref = []
    cum = 0
    for i, text in enumerate(texts):
        if i >= 60:
            continue
        cleaned = re.sub("[^ACGT]", "", text.upper())
        content = (cleaned + "A" * 17)[: 13 + (i % 3) * 2]
        g, c = content.count("G"), content.count("C")
        cum += g - c
        skew = (g - c) * 1000000 // (g + c) if g + c > 0 else 0
        # DuckDB/Spark integer division truncates; python floors
        if g + c > 0 and (g - c) < 0 and (g - c) * 1000000 % (g + c) != 0:
            skew += 1
        ref.append((i, g, c, skew, cum))
    assert got == ref


# ---------------------------------------------------------------------------
# wave 4: exact median vs python statistics
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["A", "B"]), st.integers(-400, 400)),
        min_size=1,
        max_size=50,
    )
)
def test_exact_median_oracle_matches_python(rows):
    from bigdatagenomic_spark.operators.scale import Q_X_EXACT_MEDIAN_SQL

    cust = pd.DataFrame(
        {
            "c_custkey": range(len(rows)),
            "c_mktsegment": [g for g, _ in rows],
            "c_acctbal": [cents / 100.0 for _, cents in rows],
        }
    )
    con = duckdb.connect()
    con.register("customer", cust)
    got = {r[0]: r[1:] for r in con.sql(Q_X_EXACT_MEDIAN_SQL).fetchall()}
    for grp in sorted({g for g, _ in rows}):
        vals = sorted(cents for g, cents in rows if g == grp)
        n = len(vals)
        lo, hi = vals[(n - 1) // 2], vals[n // 2]
        assert got[grp] == (n, lo + hi)


# ---------------------------------------------------------------------------
# wave 4: Mash distance vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@example(["AAAATT", "", "AAACTC", "", "AAAAGAAACG", "", "AAAACAAACC"])
@given(
    st.lists(
        st.text(alphabet="ACGT", min_size=0, max_size=30),
        min_size=4,
        max_size=24,
    )
)
def test_mash_oracle_matches_python(texts):
    from bigdatagenomic_spark.queries import MASH_GROUPS, MASH_K, _REGISTRY

    sql = _REGISTRY["q_asm_mash_distance"][1]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {(r[0], r[1]): r[2:] for r in con.sql(sql).fetchall()}

    def revcomp(s: str) -> str:
        return s[::-1].translate(str.maketrans("ACGT", "TGCA"))

    sets: dict[int, set[str]] = {g: set() for g in range(MASH_GROUPS)}
    for i, text in enumerate(texts):
        content = (text.upper() + "A" * 17)[: 13 + (i % 3) * 2]
        for j in range(len(content) - MASH_K + 1):
            km = content[j : j + MASH_K]
            sets[i % MASH_GROUPS].add(min(km, revcomp(km)))
    for ga in range(MASH_GROUPS):
        for gb in range(ga + 1, MASH_GROUPS):
            na, nb = len(sets[ga]), len(sets[gb])
            ncommon = len(sets[ga] & sets[gb])
            if ncommon == 0:
                assert (ga, gb) not in got
                continue
            j = ncommon / (na + nb - ncommon)
            mash = math.floor(
                (-math.log(2 * j / (1 + j)) / MASH_K) * 10000 + 0.5
            ) / 10000
            g = got[(ga, gb)]
            assert g[:3] == (na, nb, ncommon)
            # integer-exact convention: no float-rounding legs to disagree
            assert g[3] == (ncommon * 1000000) // (na + nb - ncommon)
            assert abs(g[4] - mash) < 1.5e-4


# ---------------------------------------------------------------------------
# wave 5: item-item cosine vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 6)),
        min_size=1,
        max_size=60,
    )
)
def test_item_cosine_oracle_matches_python(rows):
    from bigdatagenomic_spark.operators.relational_ext import (
        ITEM_COS_MIN_PAIRS,
        ITEM_COS_TOP,
        Q_X_ITEM_COSINE_SQL,
    )

    li = pd.DataFrame(
        {
            "l_orderkey": [o for o, _ in rows],
            "l_partkey": [p for _, p in rows],
        }
    )
    con = duckdb.connect()
    con.register("lineitem", li)
    got = [tuple(r) for r in con.sql(Q_X_ITEM_COSINE_SQL).fetchall()]

    items = sorted({(o, p) for o, p in rows})
    support: dict[int, int] = {}
    for _, p in items:
        support[p] = support.get(p, 0) + 1
    pair_n: dict[tuple[int, int], int] = {}
    baskets: dict[int, list[int]] = {}
    for o, p in items:
        baskets.setdefault(o, []).append(p)
    for parts in baskets.values():
        for i, a in enumerate(parts):
            for b in parts[i + 1 :]:
                k = (min(a, b), max(a, b))
                pair_n[k] = pair_n.get(k, 0) + 1
    ref = []
    for (a, b), n_ab in pair_n.items():
        if n_ab < ITEM_COS_MIN_PAIRS:
            continue
        na, nb = support[a], support[b]
        ref.append(
            (a, b, n_ab, na, nb, _round_half_away(n_ab / math.sqrt(na * nb), 4))
        )
    ref.sort(key=lambda t: (-t[5], t[0], t[1]))
    assert got == ref[:ITEM_COS_TOP]


# ---------------------------------------------------------------------------
# wave 5: rolling correlation vs python reference
# ---------------------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from(["click", "purchase"])),
        min_size=1,
        max_size=150,
    )
)
def test_rolling_corr_oracle_matches_python(raw):
    from bigdatagenomic_spark.operators.relational_ext import (
        ROLL_CORR_W,
        Q_X_ROLLING_CORR_SQL,
    )

    ev = pd.DataFrame(
        {
            "event_id": range(len(raw)),
            "ts": [
                datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)
                for d, _ in raw
            ],
            "event_type": [t for _, t in raw],
        }
    )
    con = duckdb.connect()
    con.register("events", ev)
    got = {r[0]: r[1:] for r in con.sql(Q_X_ROLLING_CORR_SQL).fetchall()}

    daily: dict[int, list[int]] = {}
    for d, t in raw:
        n = daily.setdefault(d, [0, 0])
        n[0 if t == "click" else 1] += 1
    days = sorted(daily)
    for i, d in enumerate(days):
        day = (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)).date()
        if i + 1 < ROLL_CORR_W:
            assert day not in got
            continue
        win = [daily[x] for x in days[i + 1 - ROLL_CORR_W : i + 1]]
        xs = [w[0] for w in win]
        ys = [w[1] for w in win]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        sxx = sum((x - mx) ** 2 for x in xs)
        syy = sum((y - my) ** 2 for y in ys)
        sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        nc, np_, corr = got[day]
        assert (nc, np_) == tuple(daily[d])
        if sxx == 0 or syy == 0:
            assert corr is None
        else:
            assert abs(corr - round(sxy / math.sqrt(sxx * syy), 6)) < 2e-6
