"""Independent-reference property tests for the round-11 session-2
operators (gopher repetition, RAKE, KMV, ORF, weighted median):
hypothesis inputs pit each op's DuckDB oracle SQL against a
from-scratch Python reference (SURVEY.md §5.2 items 6-7). The Spark
side is hash-pinned to the same oracle by tests/test_relational_oracle,
so a pass validates both engines against a third implementation.

New ops run max_examples=200 in the round they land (seed-discipline
policy); Python references use engine arithmetic (integer-exact micro
grids, md5-prefix hashing), never CPython round().

Round-13 schedule note (policy applied, VERDICT r12 #5): all five
wave-9 ops earned driver rows in CORRECTNESS_r12, so max_examples
dropped to 30 this round (SURVEY §5.2.7); @example pins kept.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from bigdatagenomic_spark.operators.dedup import (
    KMV_K,
    KMV_M,
    Q_DEDUP_KMV_SQL,
)
from bigdatagenomic_spark.operators.scale import Q_X_WEIGHTED_MEDIAN_SQL
from bigdatagenomic_spark.operators.text import (
    Q_TEXT_GOPHER_REPETITION_SQL,
    Q_TEXT_RAKE_SQL,
    RAKE_STOPWORDS,
    RAKE_TOP_K,
)

from tests.helpers import _TEXTS, _docs_con, _md5_60, _tokens


# ---------------------------------------------------------------------------
# Gopher repetition screens
# ---------------------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(st.lists(_TEXTS, min_size=1, max_size=6))
def test_gopher_repetition_oracle_matches_python(texts):
    con = _docs_con(texts)
    got = {
        r[0]: r[1:]
        for r in con.sql(Q_TEXT_GOPHER_REPETITION_SQL).fetchall()
    }
    for i, text in enumerate(texts):
        t = _tokens(text)
        if not t:
            assert i not in got
            continue
        g2 = [" ".join(t[j : j + 2]) for j in range(len(t) - 1)]
        g5 = [" ".join(t[j : j + 5]) for j in range(len(t) - 4)]
        if len(t) >= 2:
            top2 = max(g2.count(g) for g in set(g2))
            e2 = (top2, top2 * 1000000 // len(g2))
        else:
            e2 = (None, None)
        if len(t) >= 5:
            dup5 = len(g5) - len(set(g5))
            e5 = (dup5, dup5 * 1000000 // len(g5))
        else:
            e5 = (None, None)
        assert got[i] == (len(t), *e2, *e5)


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

def _rake_reference(texts):
    occ: dict[str, int] = {}
    for text in texts:
        t = _tokens(text)
        phrase: list[str] = []
        phrases: list[str] = []
        for w in t:
            if w in RAKE_STOPWORDS:
                if phrase:
                    phrases.append(" ".join(phrase))
                phrase = []
            else:
                phrase.append(w)
        if phrase:
            phrases.append(" ".join(phrase))
        for p in phrases:
            occ[p] = occ.get(p, 0) + 1
    freq: dict[str, int] = {}
    degree: dict[str, int] = {}
    for p, n in occ.items():
        ws = p.split(" ")
        for w in ws:
            freq[w] = freq.get(w, 0) + n
            degree[w] = degree.get(w, 0) + n * len(ws)
    w_score = {w: degree[w] * 1000000 // freq[w] for w in freq}
    scored = [
        (p, occ[p], sum(w_score[w] for w in p.split(" "))) for p in occ
    ]
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:RAKE_TOP_K]


@settings(max_examples=30, deadline=None)
@given(st.lists(_TEXTS, min_size=1, max_size=6))
def test_rake_oracle_matches_python(texts):
    con = _docs_con(texts)
    got = con.sql(Q_TEXT_RAKE_SQL).fetchall()
    assert got == _rake_reference(texts)


# ---------------------------------------------------------------------------
# KMV bottom-k sketch
# ---------------------------------------------------------------------------

def _word_shingles(t: list[str]) -> set[str]:
    """Mirror functions.word_shingles: 3-gram joins with null-skip
    partial shingles for docs shorter than 3 tokens; the zero-token
    '' artifact is excluded (both engines filter it)."""
    if not t:
        return set()
    n = max(len(t) - 2, 1)
    return {" ".join(t[i : i + 3]) for i in range(n)}


def _kmv_reference(texts, sources):
    sketches: dict[str, list[int]] = {}
    per_source: dict[str, set[int]] = {}
    for text, src in zip(texts, sources):
        if text is None:
            continue
        per_source.setdefault(src, set()).update(
            _md5_60(s) for s in _word_shingles(_tokens(text))
        )
    est = {}
    for src, hs in per_source.items():
        if not hs:  # a source whose docs all tokenize empty has no rows
            continue
        sk = sorted(hs)[:KMV_K]
        sketches[src] = sk
        est[src] = (
            len(sk) if len(sk) < KMV_K else (KMV_K - 1) * KMV_M // sk[-1]
        )
    rows = []
    for sa in sorted(sketches):
        for sb in sorted(sketches):
            if sa >= sb:
                continue
            a, b = set(sketches[sa]), set(sketches[sb])
            u = sorted(a | b)[:KMV_K]
            n_common = sum(1 for h in u if h in a and h in b)
            rows.append(
                (
                    sa,
                    sb,
                    est[sa],
                    est[sb],
                    len(u),
                    n_common,
                    n_common * 1000000 // len(u),
                )
            )
    return rows


@settings(max_examples=30, deadline=None)
@given(
    st.lists(_TEXTS, min_size=1, max_size=8),
    st.data(),
)
def test_kmv_oracle_matches_python(texts, data):
    sources = [
        data.draw(st.sampled_from(["s1", "s2", "s3"])) for _ in texts
    ]
    con = _docs_con(texts, sources)
    got = con.sql(Q_DEDUP_KMV_SQL).fetchall()
    assert got == _kmv_reference(texts, sources)


# ---------------------------------------------------------------------------
# ORF finder
# ---------------------------------------------------------------------------

_ORF_RE = re.compile(r"ATG(?:[ACGT]{3})*?(?:TAA|TAG|TGA)")


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ACGTacgt xy", min_size=0, max_size=120),
        min_size=1,
        max_size=6,
    )
)
def test_orf_oracle_matches_python(texts):
    con = _docs_con(texts)
    sql = __import__("__spark_entry__").oracle_sql()["q_asm_orf"]
    got = {r[0]: r[1:] for r in con.sql(sql).fetchall()}
    for i, text in enumerate(texts):
        content = re.sub("[^ACGT]", "", text.upper())
        if len(content) < 30:
            assert i not in got
            continue
        orfs = _ORF_RE.findall(content)
        lens = [len(o) for o in orfs]
        assert got[i] == (
            len(content),
            len(orfs),
            max(lens) if lens else 0,
            sum(lens),
        )


# ---------------------------------------------------------------------------
# weighted exact median
# ---------------------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "N", "R"]),
            st.integers(min_value=1, max_value=9999).map(
                lambda c: c / 100.0
            ),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_weighted_median_oracle_matches_python(rows):
    df = pd.DataFrame(
        {
            "l_returnflag": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
            "l_quantity": [float(r[2]) for r in rows],
            "l_orderkey": range(len(rows)),
            "l_linenumber": [1] * len(rows),
        }
    )
    con = duckdb.connect()
    con.register("lineitem", df)
    got = con.sql(Q_X_WEIGHTED_MEDIAN_SQL).fetchall()
    expect = []
    for g in sorted({r[0] for r in rows}):
        cells: dict[float, int] = {}
        for f, p, w in rows:
            if f == g:
                cells[p] = cells.get(p, 0) + w
        tot = sum(cells.values())
        cum = 0
        for p in sorted(cells):
            cum += cells[p]
            if 2 * cum >= tot:
                expect.append((g, p, cum, tot))
                break
    assert got == expect


def test_kmv_dense_corpus_exercises_estimator_branch():
    """Deterministic hash-dense corpus: each source carries WAY more
    than K distinct shingles, so this deterministically covers the
    three paths the hypothesis inputs above rarely reach (a generated
    source CAN exceed 128 distinct hashes — 8 docs x up to 28
    shingles — but most draws stay under): the (K-1)*2^60 div h_k
    cardinality-estimate branch, the per-(source, bucket) rn1 <= K
    prune (whose union-of-bucket-minima must still contain the global
    bottom-K), and the urn <= K truncation of the pair union rank."""
    # two sources, ~600 distinct shingles each, ~50% overlap
    texts, sources = [], []
    for i in range(200):
        texts.append(" ".join(f"tok{i}x{j}" for j in range(5)))
        sources.append("sa")
    for i in range(100, 300):
        texts.append(" ".join(f"tok{i}x{j}" for j in range(5)))
        sources.append("sb")
    con = _docs_con(texts, sources)
    got = con.sql(Q_DEDUP_KMV_SQL).fetchall()
    expect = _kmv_reference(texts, sources)
    assert got == expect
    (sa, sb, est_a, est_b, union_k, n_common, jacc) = got[0]
    # the estimator branch really ran: k_used == K, so est != k_used
    assert union_k == KMV_K and est_a > KMV_K and est_b > KMV_K
    # estimates within 3x of truth (~600) — sanity, not the contract
    assert 200 < est_a < 1800 and 200 < est_b < 1800
    assert 0 < n_common < KMV_K
