"""BPE trainer semantics: hand-computed merges, greedy-leftmost runs,
tie-breaks, and idle-after-exhaustion."""

from bigdatagenomic_spark.operators.bpe import bpe_train


SF_DIR = "/root/testdata/sf0.001"


def _seg(spark, rows, n_merges):
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    return {
        r.word: (r.freq, r.segmented)
        for r in bpe_train(docs, n_merges=n_merges).collect()
    }


def test_bpe_merges_most_frequent_pair_first(spark):
    # corpus: 'abab' x3, 'ab' x2 -> pair (a,b) freq 8 dominates
    out = _seg(spark, [(0, "abab abab abab ab ab")], n_merges=1)
    assert out["abab"] == (3, "ab ab")
    assert out["ab"] == (2, "ab")


def test_bpe_greedy_leftmost_in_same_symbol_runs(spark):
    # 'aaaa': candidates at pos 1,2,3 -> merge pos 1 and 3 -> 'aa aa';
    # 'aaa' -> 'aa a'
    out = _seg(spark, [(0, "aaaa aaa")], n_merges=1)
    assert out["aaaa"] == (1, "aa aa")
    assert out["aaa"] == (1, "aa a")


def test_bpe_tie_breaks_lexicographically(spark):
    # pairs (x,y) and (y,z) each occur once in 'xyz'... use two words:
    # 'zy' and 'ab' both freq 1 -> pairs (z,y) and (a,b) tie at 1;
    # lexicographic min pair is (a,b)
    out = _seg(spark, [(0, "zy ab")], n_merges=1)
    assert out["ab"] == (1, "ab")
    assert out["zy"] == (1, "z y")


def test_bpe_idles_after_all_pairs_merged(spark):
    # single 2-char word: one merge exhausts all pairs; extra rounds
    # must be no-ops, not wipe the table
    out = _seg(spark, [(0, "ab ab")], n_merges=5)
    assert out["ab"] == (2, "ab")


def test_bpe_successive_merges_compose(spark):
    # 'abc' x4: round1 merges (a,b) [tie (a,b) < (b,c)], round2 merges
    # (ab,c)
    out = _seg(spark, [(0, "abc abc abc abc")], n_merges=2)
    assert out["abc"] == (4, "abc")
    out1 = _seg(spark, [(0, "abc abc abc abc")], n_merges=1)
    assert out1["abc"] == (4, "ab c")


def test_bpe_merge_round_plans_single_exchange_for_window_chain(spark):
    """The 6-step merge chain shares one (word)-partitioning, so it must
    collapse to exactly ONE word-hash exchange; with the pair-count
    lead's exchange that is two word-hash exchanges per round total."""
    import re

    from bigdatagenomic_spark.operators.bpe import (
        _best_pair,
        _merge_round,
        _pair_counts,
    )

    syms = spark.createDataFrame(
        [("ab", 2, 1, "a"), ("ab", 2, 2, "b")],
        "word STRING, freq LONG, pos INT, sym STRING",
    ).localCheckpoint()
    one = _merge_round(syms, _best_pair(_pair_counts(syms)))
    plan = one._jdf.queryExecution().executedPlan().toString()
    word_exchanges = re.findall(r"Exchange hashpartitioning\(word#", plan)
    assert len(word_exchanges) == 2, plan


def test_bpe_encode_counts_subword_units(spark):
    from bigdatagenomic_spark.operators.bpe import bpe_encode

    # one merge: (a,b) dominates -> 'abab' encodes as 2 tokens,
    # 'cd' stays 2 chars = 2 tokens
    docs = spark.createDataFrame(
        [(0, "abab abab ab"), (1, "cd abab")], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in bpe_encode(docs, n_merges=1).collect()}
    # doc0: abab(2 syms) x2 + ab(1 sym) = 5 bpe tokens over 3 words
    assert out[0].n_words == 3 and out[0].n_bpe_tokens == 5
    # chars 4+4+2=10 over 5 tokens -> compression 2.0
    assert abs(out[0].compression - 2.0) < 1e-9
    # doc1: cd -> 'c d' (2) + abab -> 2 = 4 tokens
    assert out[1].n_words == 2 and out[1].n_bpe_tokens == 4


def test_bpe_lazy_checkpoint_still_truncates_lineage(spark):
    from bigdatagenomic_spark.operators.bpe import bpe_train
    from bigdatagenomic_spark.sources.tables import load_table

    out = bpe_train(load_table(spark, SF_DIR, "documents"), n_merges=2)
    plan = out._jdf.queryExecution().analyzed().toString()
    # the returned plan roots at the last merge round's checkpoint —
    # no parquet relation may remain in the lineage
    assert "LogicalRDD" in plan
    assert "parquet" not in plan.lower()
