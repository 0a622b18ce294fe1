"""Tests for operators/similarity.py: MMR re-ranking, range search,
filtered and IVF top-k, and the joint k-means trainer.

Spark-side pins check what hash parity cannot express: MMR's first pick
is the relevance argmax and its set differs from the pure top-k, range
search agrees with top-k, IVF recall stays in bounds, the query side
broadcasts, and the joint multi-span trainer and the literal IVF
assignment equal their per-slice and crossJoin forms. The property
tests that compare each oracle against a Python reference are in
tests/test_round*_properties.py.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from tests.helpers import SF, _q

SF_DIR = "/root/testdata/sf0.001"


def test_mmr_first_pick_is_relevance_argmax_and_selection_valid(spark):
    from bigdatagenomic_spark.operators.similarity import (
        MMR_K,
        MMR_N_QUERIES,
        MMR_W_REL,
    )

    sel = _q("q_sim_mmr")(spark, SF).collect()
    by_q: dict = {}
    for r in sel:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == MMR_N_QUERIES
    # exact cosine top-k gives the relevance argmax per query
    top1 = {
        r.query_id: (r.vec_id, r.sim)
        for r in _q("q26_cosine_topk")(spark, SF).collect()
        if r.rn == 1
        if r.query_id < MMR_N_QUERIES
    }
    for qid, picks in by_q.items():
        assert sorted(p.pick for p in picks) == list(range(1, MMR_K + 1))
        assert len({p.vec_id for p in picks}) == MMR_K  # no repeats
        p1 = next(p for p in picks if p.pick == 1)
        assert p1.vec_id == top1[qid][0]
        # pick 1's mmr is pure relevance on the micro grid
        assert p1.mmr_m == MMR_W_REL * round(top1[qid][1] * 10000)


def test_mmr_diversifies_vs_pure_topk(spark):
    """On the planted near-dup embeddings, at least one query's MMR set
    must differ from its pure relevance top-5 (otherwise the redundancy
    term did nothing on data with duplicate-heavy neighborhoods)."""
    from bigdatagenomic_spark.operators.similarity import MMR_N_QUERIES

    sel = _q("q_sim_mmr")(spark, SF).collect()
    topk = _q("q26_cosine_topk")(spark, SF).collect()
    diffs = 0
    for qid in range(MMR_N_QUERIES):
        mmr_set = {r.vec_id for r in sel if r.query_id == qid}
        top_set = {r.vec_id for r in topk if r.query_id == qid}
        if mmr_set != top_set:
            diffs += 1
    assert diffs >= 1


def test_range_search_threshold_and_topk_consistency(spark):
    """Every range hit at t must also appear in exact top-k when the
    top-k's k-th sim clears t — the two retrieval modes agree."""
    from bigdatagenomic_spark.operators.similarity import RANGE_THRESHOLD

    hits = _q("q_sim_range_search")(spark, SF).collect()
    assert hits, "planted near-dup embeddings guarantee range hits"
    for r in hits:
        assert r.sim >= RANGE_THRESHOLD
    topk = _q("q26_cosine_topk")(spark, SF).collect()
    topk_pairs = {(r.query_id, r.vec_id) for r in topk}
    by_q_hits: dict = {}
    for r in hits:
        by_q_hits.setdefault(r.query_id, []).append(r)
    for qid, qhits in by_q_hits.items():
        ksims = sorted(
            (r.sim for r in topk if r.query_id == qid), reverse=True
        )
        if not ksims:
            continue
        kth = ksims[-1]
        for r in qhits:
            if r.sim > kth:
                assert (qid, r.vec_id) in topk_pairs


def test_ivf_recall_bounds_and_agreement(spark):
    rows = _q("q_sim_ivf_recall")(spark, SF).collect()
    from bigdatagenomic_spark.operators.similarity import N_QUERIES, TOP_K

    assert len(rows) == N_QUERIES
    for r in rows:
        assert r.n_exact == TOP_K
        assert 0 <= r.n_hit <= r.n_exact
        assert r.recall == round(r.n_hit / r.n_exact, 4)
    # the probe set covers most of the exact neighbors on testdata
    assert sum(r.n_hit for r in rows) / sum(r.n_exact for r in rows) >= 0.5


# ---------------------------------------------------------------------------
# plan pins for the round-10 join shapes
# ---------------------------------------------------------------------------

def test_filtered_topk_broadcasts_query_side(spark):
    """The bounded query set ships as a broadcast build side; the
    candidate scan must not shuffle for the label-constrained join."""
    from bigdatagenomic_spark.operators.similarity import q_sim_filtered_topk

    plan = (
        q_sim_filtered_topk(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# filtered top-k vs python brute force
# ---------------------------------------------------------------------------


def _vecs(spark):
    from bigdatagenomic_spark.sources.tables import load_table

    return (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .localCheckpoint(eager=False)
    )


def test_joint_trainer_matches_per_slice_kmeans(spark):
    from bigdatagenomic_spark.operators import similarity as S
    from bigdatagenomic_spark.operators.clustering import kmeans

    vecs = _vecs(spark)
    dim = S.PQ_M * S.PQ_SUBDIM
    spans = [(0, dim)] + [(m * S.PQ_SUBDIM, S.PQ_SUBDIM) for m in range(S.PQ_M)]
    cbs = S._train_joint_lit(vecs, spans, k=S.N_CENTROIDS, n_iter=S.PQ_ITER)

    for s, (off, width) in enumerate(spans):
        sub = vecs.select(
            "vec_id", F.slice("v", off + 1, width).alias("embedding")
        )
        _, cents = kmeans(
            sub, k=S.N_CENTROIDS, n_iter=S.PQ_ITER, round_decimals=S.PQ_ROUND
        )
        want = [(r.cluster, list(r.centroid)) for r in cents.orderBy("cluster").collect()]
        got = [(cid, list(vec)) for cid, vec in cbs[s]]
        assert got == want, f"span {s} (off={off}, width={width}) diverged"


def test_ivf_assign_lit_matches_crossjoin_form(spark):
    from bigdatagenomic_spark.operators import similarity as S

    vecs = _vecs(spark)
    cbs = S._train_joint_lit(
        vecs, [(0, S.PQ_M * S.PQ_SUBDIM)], k=S.N_CENTROIDS, n_iter=S.PQ_ITER
    )
    cent_df = F.broadcast(S._centroid_table(spark, cbs[0]))
    want = {
        r.vec_id: r.centroid_id
        for r in S._ivf_assign(vecs, cent_df).select("vec_id", "centroid_id").collect()
    }
    got = {
        r.vec_id: r.centroid_id
        for r in S._ivf_assign_lit(vecs, cbs[0]).select("vec_id", "centroid_id").collect()
    }
    assert got == want
