"""Tests for operators/text.py: retrieval scoring, lexical statistics
and keyword extraction over the documents corpus.

Spark-side pins check planted behaviour (BM25 top-n, TTR bounds),
degenerate documents (token-less and very long ones) and plan shape
(entropy is map-only, novelty tokenizes once). The property tests that
compare each oracle against a Python reference are in
tests/test_round*_properties.py.
"""

from __future__ import annotations

import re


from bigdatagenomic_spark import queries as Q
from bigdatagenomic_spark.plans.inspect import formatted_plan, join_kinds

from tests.helpers import SF, _q

SF_DIR = "/root/testdata/sf0.001"


def test_bm25_returns_full_topn_with_positive_scores(spark):
    from bigdatagenomic_spark.operators.text import BM25_TOP_N

    rows = _q("q_text_bm25")(spark, SF).collect()
    assert len(rows) == BM25_TOP_N
    for r in rows:
        assert r.score > 0 and r.n_match >= 1
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ttr_bounds(spark):
    rows = _q("q_text_ttr")(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_types <= r.n_tokens
        assert 0 < r.ttr_micro <= 1_000_000
        assert r.ttr_micro == r.n_types * 1_000_000 // r.n_tokens


# ---------------------------------------------------------------------------
# entropy: map-only plan (no shuffle before the final sort)
# ---------------------------------------------------------------------------

def test_entropy_plan_is_map_only(spark):
    from bigdatagenomic_spark.operators.text import q_text_entropy

    df = q_text_entropy(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan


# ---------------------------------------------------------------------------
# entropy run-length rewrite (round 11): long docs and token-less docs
# ---------------------------------------------------------------------------

def test_entropy_long_doc_and_punct_only_doc(spark, tmp_path):
    """The O(T log T) run-length fold (round 11) must reproduce the
    direct count-based entropy on a 2k-token document, and a
    punctuation-only document (0 tokens) must be dropped, not crash
    the ANSI 0.0/0.0 division the CASE guard exists to prevent."""
    import math

    import pandas as pd

    long_toks = [f"w{i % 37}" for i in range(2000)] + ["rare"] * 3
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [" ".join(long_toks), "!!! ??? ...", "a a b"],
        }
    )
    spark.createDataFrame(docs).write.parquet(str(tmp_path / "documents.parquet"))
    from bigdatagenomic_spark.operators.text import q_text_entropy

    out = {r.doc_id: r for r in q_text_entropy(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 2}  # punctuation-only doc dropped, no crash

    def ref(toks):
        n = len(toks)
        counts = [toks.count(t) for t in sorted(set(toks))]
        ent = math.log(n) - sum(c * math.log(c) for c in counts) / n
        return len(toks), len(counts), math.floor(ent * 10000 + 0.5) / 10000

    for did, toks in ((0, long_toks), (2, ["a", "a", "b"])):
        n_tok, n_typ, ent = ref(toks)
        assert out[did].n_tokens == n_tok
        assert out[did].n_types == n_typ
        assert abs(out[did].ent - ent) < 1.5e-4


# ---------------------------------------------------------------------------
# hapax / readability: token-less and sentence-less docs drop, not crash
# ---------------------------------------------------------------------------

def test_hapax_and_readability_drop_degenerate_docs(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["!!! ??? ...", "a a b.", "word"],
        }
    )
    spark.createDataFrame(docs).write.parquet(str(tmp_path / "documents.parquet"))
    from bigdatagenomic_spark.operators.text import (
        q_text_hapax,
        q_text_readability,
    )

    h = {r.doc_id: r for r in q_text_hapax(spark, str(tmp_path)).collect()}
    assert set(h) == {1, 2}
    assert (h[1].n_tokens, h[1].n_types, h[1].n_hapax) == (3, 2, 1)
    assert h[1].hapax_ratio_micro == 500000
    assert h[2].hapax_ratio_micro == 1000000

    r = {x.doc_id: x for x in q_text_readability(spark, str(tmp_path)).collect()}
    # doc 0 has no words; doc 2 "word" has no [.!?] but one trimmed
    # sentence under the split semantics -> kept
    assert set(r) == {1, 2}
    assert r[1].n_sentences == 1 and r[1].n_words == 3
    assert r[2].n_syllables == 1  # "word": one vowel group


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------


def test_novelty_single_tokenize_pass(spark):
    """The round-14 before-plan had TWO Generate (shingle-explode)
    nodes — the corpus was tokenized once for df(h) and again for the
    probe side. The window rewrite must keep it at one."""
    df = Q.queries()["q_text_novelty"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert join_kinds(df) == []  # df(h) attaches via window, not join
