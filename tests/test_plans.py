"""Physical-plan shape assertions (SURVEY.md §7.2 item 4, the 100 TB gate).

These tests pin the *plan*, not the result: filters must reach the
parquet scan, scans must prune columns, small dims must broadcast,
aggregates must have a map-side partial phase, and top-k must never
globally sort. All explain-only — nothing executes, so they run against
the bench-scale directory.
"""

from __future__ import annotations

import pytest

from bigdatagenomic_spark import queries as Q
from bigdatagenomic_spark.plans import (
    codegen_stage_count,
    exchange_count,
    formatted_plan,
    has_operator,
    join_kinds,
    pushed_filters,
    scan_schemas,
)

SF_DIR = "/root/testdata/sf0.1"

_QS = Q.queries()


def _df(spark, name):
    return _QS[name](spark, SF_DIR)


def test_q01_filter_pushdown_and_pruning(spark):
    df = _df(spark, "q01_scan_filter")
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThan(l_quantity" in pushed
    (schema,) = scan_schemas(df)
    # 3 of 16 lineitem columns read — pruning reached the scan
    assert schema == "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"
    # the only shuffle is the declared ORDER BY's range partitioning
    assert exchange_count(df) == 1
    assert codegen_stage_count(df) >= 1


def test_q03_join_broadcasts_smaller_side(spark):
    df = _df(spark, "q03_inner_join")
    kinds = join_kinds(df)
    assert kinds and set(kinds) == {"BroadcastHashJoin"}
    # the only shuffle is the declared ORDER BY's range partitioning
    assert exchange_count(df) <= 1


def test_q04_dim_join_broadcasts(spark):
    df = _df(spark, "q04_broadcast_join")
    assert "SortMergeJoin" not in join_kinds(df)
    assert "BroadcastHashJoin" in join_kinds(df)


def test_q08_agg_has_mapside_partial(spark):
    df = _df(spark, "q08_agg_tpch_q1")
    plan = formatted_plan(df)
    assert "partial_sum" in plan  # map-side combine before the shuffle
    # exactly 2 shuffles: agg hashpartitioning + ORDER BY rangepartitioning
    assert exchange_count(df) == 2


def test_q15_topk_never_globally_sorts(spark):
    df = _df(spark, "q15_topk")
    assert has_operator(df, "TakeOrderedAndProject")
    assert exchange_count(df) == 0


def test_q24_dedup_is_one_shuffle_agg(spark):
    df = _df(spark, "q24_dedup_exact")
    plan = formatted_plan(df)
    assert "partial_min" in plan or "partial_count" in plan
    assert exchange_count(df) <= 2  # agg + declared ORDER BY


def test_q25_term_counts_uses_topk(spark):
    df = _df(spark, "q25_term_counts")
    assert has_operator(df, "TakeOrderedAndProject")
    assert exchange_count(df) <= 1  # word-count shuffle only


def test_q26_similarity_broadcasts_queries(spark):
    df = _df(spark, "q26_cosine_topk")
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert any(k.startswith("Broadcast") for k in kinds)


def test_asof_join_is_linear_not_range_join(spark):
    """The custom as-of operator must be the union+window merge plan —
    no join operator at all (a range self-join would be O(n^2)/key)."""
    df = _df(spark, "q_x_asof_join")
    assert join_kinds(df) == []
    # window shuffle on user_id + declared ORDER BY only
    assert exchange_count(df) <= 2


def test_identical_subtrees_reuse_exchange(spark):
    """A self-join over the same aggregate must plan ONE shuffle with a
    ReusedExchange, not two identical shuffles — Catalyst's subtree
    reuse is what keeps diamond-shaped pipelines from paying twice."""
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
    joined = agg.join(
        agg.select(F.col("l_orderkey"), F.col("s").alias("s2")), "l_orderkey"
    )
    # with a broadcast build side the two subtrees differ (one exchange
    # becomes a BroadcastExchange), so reuse can't fire — disable
    # broadcast to expose the identical shuffle pair. Under AQE the reuse
    # materializes in the FINAL plan, so execute before inspecting.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_tpch_q3_filters_reach_all_three_scans(spark):
    df = _df(spark, "q_tpch_q3_shape")
    pushed = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pushed and "o_orderdate" in pushed and "l_shipdate" in pushed
    # top-10 must be TakeOrderedAndProject, not a global Sort
    assert has_operator(df, "TakeOrderedAndProject")


def test_tpch_q5_broadcasts_dims(spark):
    """The round-8 q5 rewrite deliberately stages the fact joins as
    shuffle joins (the 100 TB shape — SCALING.md Part 5), so the STATIC
    plan may legitimately contain a SortMergeJoin at sf0.1. The pin that
    matters is (a) the region filter reaches the scan, (b) the nation
    dims broadcast, and (c) AQE's EXECUTED plan converts every sf0.1
    shuffle join back to broadcast — i.e. the runtime re-plan works."""
    df = _df(spark, "q_tpch_q5_shape")
    kinds = join_kinds(df)
    assert kinds and "BroadcastHashJoin" in set(kinds)
    assert "r_name" in " ".join(pushed_filters(df))
    df.collect()
    # toString() prints BOTH the final and the initial plan; only the
    # final section is the adjudicated shape
    full = df._jdf.queryExecution().executedPlan().toString()
    final = full.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "SortMergeJoin" not in final  # AQE rescues every small join


def test_interval_join_is_equi_not_nested_loop(spark):
    """The binned rewrite must plan as a hash/merge equi-join: a
    BroadcastNestedLoopJoin or CartesianProduct here means the range
    predicate leaked into the join strategy (the O(n*m) plan)."""
    df = _df(spark, "q_x_interval_join")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    kinds = join_kinds(df)
    assert any(k in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
               for k in kinds)


def test_chunking_is_map_only(spark):
    """Chunk fan-out (before the declared ORDER BY) adds no exchange:
    generate + substring run inside the scan's stage."""
    from bigdatagenomic_spark.operators.llm_prep import chunk_documents
    from bigdatagenomic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = chunk_documents(docs)
    assert exchange_count(df) == 0
    assert has_operator(df, "Generate")


def test_decontam_broadcasts_eval_shingles(spark):
    """The training side must probe a broadcast eval-shingle set — a
    shuffled semi join would move the whole exploded corpus."""
    df = _df(spark, "q_text_decontam")
    assert "BroadcastHashJoin" in join_kinds(df)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime-filter evidence for big shuffle joins: with a selective
    filter on the orders side, Catalyst must inject a bloom filter that
    prunes the lineitem scan before the join shuffle. At 100 TB this is
    the difference between shuffling all of lineitem and shuffling only
    rows whose orderkey can match. The creation/application thresholds
    are lowered so the rewrite fires at test scale; broadcast is
    disabled because the runtime filter targets shuffle joins (broadcast
    joins prune via their build side already)."""
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.sources.tables import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "500MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        df = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy().agg(
            F.round(F.sum("l_extendedprice"), 2).alias("rev")
        )
        plan = formatted_plan(df)
        assert "bloomfilter" in plan.lower() or "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Join-driven partition pruning: when the fact table is
    date-partitioned and the dim side carries a selective filter, the
    fact scan must plan a dynamicpruning subquery — at 100 TB this skips
    whole partitions based on the dim filter at runtime, the partitioned
    twin of the bloom-filter test above."""
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.sources.tables import load_table
    from bigdatagenomic_spark.sources.writers import write_parquet

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day_dpp")
    write_parquet(ev, path, partition_by=["event_date"])
    fact = spark.read.parquet(path)

    dim = ev.select("event_date").distinct().where(
        F.dayofmonth("event_date") == 5
    )
    joined = fact.join(dim, "event_date").groupBy("event_date").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_tpch_q7_pushes_date_filter_and_broadcasts_nations(spark):
    df = _df(spark, "q_tpch_q7_shape")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "BroadcastHashJoin" in join_kinds(df)


def test_tpch_q18_aggregates_before_joins(spark):
    """The HAVING aggregate must sit BELOW the joins (lineitem is
    reduced to qualifying orderkeys before touching orders/customer),
    and — the round-9 rewrite — the top-100 must sit BELOW the customer
    join, whose build side is then a constant 100 broadcast rows at any
    SF (SCALING.md Part 6)."""
    df = _df(spark, "q_tpch_q18_shape")
    plan = formatted_plan(df)
    assert "partial_sum" in plan
    # the filter on the aggregated quantity exists pre-join
    assert "sum_qty" in plan
    assert has_operator(df, "TakeOrderedAndProject")
    # the 100-row side broadcasts into the customer join (explicit hint)
    assert "BroadcastHashJoin" in join_kinds(df)
    # the limit lives below the join: the plan ROOT is the re-sort of
    # the joined 100 rows, and the TakeOrderedAndProject sits under the
    # BroadcastExchange that feeds the customer join
    lines = plan.splitlines()
    root = next(
        ln for ln in lines if ln and not ln.startswith(("==", "Adaptive"))
    )
    assert "Sort" in root and "TakeOrderedAndProject" not in root
    bx = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    assert any("TakeOrderedAndProject" in ln for ln in lines[bx:])


def test_sessionize_windows_share_one_shuffle(spark):
    """lag + running-sum use identical partitioning/ordering, so both
    plan into window operators over ONE exchange (plus the declared
    final ORDER BY and the aggregation)."""
    df = _df(spark, "q_x_sessionize")
    assert exchange_count(df) <= 3  # window + groupBy agg + ORDER BY
    assert join_kinds(df) == []


# Queries that INTENTIONALLY plan a BroadcastNestedLoopJoin: each one
# broadcasts a provably tiny side (a bounded query set, K centroids, or a
# 1-row totals/bounds scalar). Everything else must plan equi-joins.
_BNLJ_ALLOWED = {
    "q26_cosine_topk",       # broadcast bounded query set x candidates
    "q_sim_ivf_topk",        # broadcast centroid table
    "q_cluster_kmeans",      # broadcast K centroids per iteration
    "q_dedup_embcos",        # bounded-sample pair scores (by contract)
    "q_text_tfidf",          # 1-row corpus doc-count scalar
    "q_x_skew_report",       # 1-row total scalar
    "q_text_pmi",            # 1-row pair/word totals scalar
    "q_text_unigram_logprob", # 1-row token total scalar
    "q_x_quantile_bins",     # 1-row bounds array
    "q_tpch_q22_shape",      # 1-row avg-acctbal cutoff scalar
    "q_text_kl_drift",       # 1-row smoothing-totals scalar (same pattern as tfidf/pmi)
    "q_text_bigram_logprob", # 1-row vocabulary-size scalar (same pattern as unigram)
    "q_sim_lsh_recall",      # inherits q26's bounded broadcast-query-set crossJoin
    "q_tpch_q11_shape",      # 1-row value-total scalar over the checkpointed agg
    "q_text_vocab_prune",    # 1-row token-total scalar (same pattern as tfidf)
    "q_x_benford",           # 1-row digit-total scalar (same pattern as skew_report)
    "q_x_psi_drift",         # 1-row calendar-bounds + period-totals scalars
    "q_x_chi2_independence", # bounded margins cross (<= |types| x 7) + 1-row n scalar
    "q_x_revenue_deciles",   # 1-row revenue-total scalar (same pattern as benford)
    "q_sim_pq_topk",         # bounded broadcast query-table crossJoin (q26 pattern)
    "q_sim_ivfpq_topk",      # broadcast centroid table + codebook training (ivf/kmeans pattern)
    "q_sim_pq_recall",       # bounded broadcast query set (q26 pattern) on both monitor sides
    "q_sim_sq_topk",         # bounded broadcast query set (q26 pattern) over int8 codes
    "q_x_temperature_mix",   # 1-row (sum_w, n_total) scalar (skew_report pattern)
    "q_text_bpe_train",      # 1-row best-pair broadcast per merge round
    "q_x_abtest",            # 1-row control-arm scalar against the 2-row readout
    "q_x_bootstrap_ci",      # 1-row point estimate x 1-row CI scalars
    "q_x_confusion",         # broadcast |labels|-row centroid table (kmeans pattern)
    "q_sim_hard_negatives",  # bounded broadcast query set (q26 pattern)
    "q_dedup_lsh_tuning",    # bounded-sample all-pairs ground truth (embcos contract)
    "q_dedup_lsh_autoconfig",  # embeds the tuning sweep (same bounded contract)
    "q_dedup_semantic",      # broadcast K-row centroid table (kmeans pattern)
    "q_sim_rerank",          # stage-1 coarse scan inherits sq_topk's bounded broadcast query set
    "q_x_dsir_select",       # two 1-row corpus-total scalars (tfidf/pmi pattern)
    "q_text_bm25",           # 1-row corpus-stats scalar (tfidf pattern)
    "q_sim_range_search",    # bounded broadcast query set (q26 pattern)
    "q_sim_mmr",             # bounded broadcast query set (q26 pattern)
    "q_sim_ivf_recall",      # composes q26 + ivf_topk (both allowlisted)
    "q_x_join_size",         # 1-row totals x 1-row argmax scalar attach
    "q_graph_motifs",        # three 1-row census scalars attached
    "q_x_ks_test",           # 1-row (n1, n2) totals scalar over the grid
    "q_x_anova_decomp",      # 1-row grand-totals scalar (chi2/psi pattern)
    "q_x_mutual_info",       # 1-row n scalar (chi2 pattern)
    "q_text_burstiness",     # 1-row corpus doc-count scalar (tfidf pattern)
    "q_x_lift_rules",        # 1-row basket-count scalar (tfidf pattern)
    "q_asm_codon_usage",     # 1-row codon-total scalar
    "q_asm_dinuc_bias",      # two 1-row totals scalars (16-key grid)
    "q_x_decay_agg",         # 1-row calendar-max scalar
    "q_x_cramers_v",         # bounded |types| x 7 margin cross (chi2 pattern)
    "q_x_cusum",             # 1-row total/day-count scalar
    "q_x_runs_test",         # 1-row total/day-count scalar
    "q_x_survival",          # 1-row population-size scalar
    "q_dedup_kmv",           # |sources|^2 pair cross + OR-condition pair
                             # expansion over the localCheckpointed
                             # <= |sources|*k-row SKETCH — bounded by
                             # construction, never the corpus
    "q_x_seq_patterns",      # 1-row user-total scalar (tfidf pattern)
}


@pytest.mark.slow  # round 15: driver-budget cut (see pytest.ini)
def test_no_cartesian_and_bnlj_only_where_intended(spark):
    """Registry-wide plan hygiene: NO CartesianProduct anywhere, and
    BroadcastNestedLoopJoin only in the allowlisted queries that attach
    a tiny broadcast side on purpose. A BNLJ over two big inputs is the
    O(n*m) plan that kills a 100 TB job; this guard catches one the day
    it sneaks in."""
    from bigdatagenomic_spark import queries as Q

    offenders = {}
    for name, fn in Q.queries().items():
        plan = formatted_plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin (not allowlisted)"
    assert not offenders, offenders


def test_tokenizer_evaluated_once_per_row(spark):
    """Single-tokenize pin (the 17x HOF regression guard).

    Composing f(g(x)) in the expression language inlines g(x) at every
    reference site — inside a HOF lambda that means per-ELEMENT
    re-evaluation of the tokenizer. The fix (functions.let_bound +
    staged projections) must keep exactly ONE split per optimized plan
    branch for the shingle/token pipelines.
    """
    from bigdatagenomic_spark.operators.dedup import minhash_signatures
    from bigdatagenomic_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    sig_plan = (
        minhash_signatures(d)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert sig_plan.count("split(") == 1, sig_plan
    # the hashed-shingle array must also be single-evaluation: one md5
    # for the shingle hash family feed (the 16 permutations read the
    # bound hs column, never re-hash)
    assert sig_plan.count("md5(") == 1, sig_plan

    for qname in ("q_text_quality", "q_text_langid", "q_text_repetition"):
        plan = (
            _QS[qname](spark, SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("split(") <= 2, (qname, plan)


def test_tpch_q8_broadcasts_all_dims(spark):
    """Q8's seven-way join: every dim side (part, customer-nation,
    region, supplier-nation) must broadcast; the only sort-merge-or-
    shuffle-hash edge allowed is lineitem ⋈ orders (the two fact
    tables). Q8 also must push the part-type and order-date filters
    into their scans."""
    df = _df(spark, "q_tpch_q8_shape")
    kinds = join_kinds(df)
    assert kinds.count("BroadcastHashJoin") >= 4, kinds
    pushed = " ".join(pushed_filters(df))
    assert "p_type" in pushed and "o_orderdate" in pushed, pushed


def test_tpch_q11_reuses_perpart_aggregate(spark):
    """Q11's 'value > 0.001 * total' scalar must come from the per-part
    aggregate itself, never from a second scan of lineitem, and the
    aggregate must NOT funnel through a single-partition exchange. The
    lazy-localCheckpoint form shows both consumers (1-row total and the
    filter) reading the checkpointed RDD: zero lineitem scans in the
    final plan, no 'Exchange SinglePartition' over the aggregate (the
    only single-partition step left is the 1-row broadcast build)."""
    df = _df(spark, "q_tpch_q11_shape")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Whole plan string (final + initial sections): the checkpoint
    # means NO lineitem scan appears anywhere in this query's plan —
    # the one scan ran in the checkpoint job. (At sf0.1 the fixed
    # 0.001 fraction filters everything — TPC-H proper scales the
    # fraction by 1/SF — so AQE collapses the final section to
    # EmptyRelation; the initial section still pins the shape.)
    import re

    assert not re.search(r"Scan parquet[^\n]*lineitem", plan), plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # exactly one single-partition exchange: the 1-row total's final
    # aggregation (per-partition partial sums), never the full per-part
    # aggregate output
    singles = plan.count("Exchange SinglePartition")
    assert singles == 1, plan
    assert "partial_sum" in plan.split("Exchange SinglePartition")[1], plan


def test_tpch_q22_anti_join_prunes_orders_scan(spark):
    """Q22: the dormancy anti join must read only o_custkey+o_orderdate
    from orders (column pruning), with the date filter pushed to the
    scan."""
    df = _df(spark, "q_tpch_q22_shape")
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, pushed
    schemas = scan_schemas(df)
    o_schema = [s for s in schemas if "o_custkey" in s]
    assert o_schema and all("o_totalprice" not in s for s in o_schema), schemas


import pytest


@pytest.mark.parametrize(
    "qname", ["q_dedup_minhash_pairs", "q_dedup_lsh_incremental"]
)
def test_minhash_band_join_shuffles_narrow_rows(spark, qname):
    """The LSH band-bucket join (full self-join AND the incremental
    delta-vs-index variant) must shuffle (doc_id, band, bkey) rows
    ONLY — the wide shingle arrays join back to surviving candidate
    pairs afterwards. An exchange that partitions on the band key
    while carrying `shs` would multiply the shuffle payload by the
    per-doc shingle-set width (ADVICE r3)."""
    import re

    # at the bounded test scale the planner broadcasts the band table —
    # disable broadcast so the join plans as the shuffle it would be at
    # corpus scale, then inspect the band-keyed exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _df(spark, qname)
        plan = formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    # formatted plan: each node is "(n) Exchange\nInput [k]: [cols...]\n
    # Arguments: hashpartitioning(...)"; check every band-keyed exchange
    sections = re.split(r"\n\(\d+\) ", plan)
    band_exchanges = [
        s for s in sections
        if s.startswith("Exchange") and "hashpartitioning(band" in s
    ]
    assert band_exchanges, "expected a band-keyed exchange in:\n" + plan
    for s in band_exchanges:
        assert "shs" not in s, s


def test_zipf_rank_window_is_partitioned(spark, driver_budget):
    """Above the driver budget q_text_zipf must never sort the whole
    vocabulary in one partition (VERDICT r4 item 2): the rank is
    two-phase — a range repartition plus a per-partition row_number
    over `pid`. Pin that the plan's ONLY window is partitioned
    (windowspecdefinition lists pid before the ordering spec, vs an
    unpartitioned spec that starts with the sort column)."""
    driver_budget(-1)
    df = _df(spark, "q_text_zipf")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_pid" in opt, opt
    assert opt.count("windowspecdefinition") == 1, opt


def test_train_shards_rank_window_is_partitioned(spark, driver_budget):
    """q_x_train_shards must never rank a whole shard in one window
    task (VERDICT r5 item 6): above the driver budget the per-shard
    position is two-phase — range repartition + per-(pid, shard)
    row_number. Pin that the plan's ONLY window is partitioned on _pid
    (same guard as the zipf fix)."""
    driver_budget(-1)
    df = _df(spark, "q_x_train_shards")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_pid" in opt, opt
    assert opt.count("windowspecdefinition") == 1, opt


def test_token_budget_mix_window_is_partitioned(spark, driver_budget):
    """Above the driver budget q_x_token_budget_mix's running sum must
    be two-phase (range repartition + per-(pid, source) window) — never
    one unbounded per-source window task. Same guard as
    zipf/train_shards."""
    driver_budget(-1)
    df = _df(spark, "q_x_token_budget_mix")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_pid" in opt, opt
    assert opt.count("windowspecdefinition") == 1, opt


def test_token_budget_mix_within_budget_is_one_partition(spark):
    """Within the driver budget the pinned input is one partition under
    the plain per-source window: the window and the caller's ORDER BY
    sort inside it, so the plan has no shuffle at all."""
    df = _df(spark, "q_x_token_budget_mix")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("windowspecdefinition") == 1, opt
    assert "_pid" not in opt, opt
    assert "Repartition 1, false" in opt[opt.index("Window [") :], opt
    assert exchange_count(df) == 0, formatted_plan(df)


def test_simhash_signatures_are_map_only(spark):
    """SimHash must be a narrow map like MinHash (VERDICT r4 item 3):
    per-doc aggregate folds over the row-local token-hash array — no
    explode, no (doc, token) groupBy exchange. Only the declared ORDER
    BY's range exchange may appear, and the tokenizer/md5 must evaluate
    once per row (staged projection survives CollapseProject)."""
    df = _df(spark, "q_dedup_simhash")
    plan = formatted_plan(df)
    assert "HashAggregate" not in plan and "Generate" not in plan, plan
    assert exchange_count(df) <= 1  # the ORDER BY only
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # one split for the non-empty filter + one feeding the hash array;
    # the per-token md5 (the expensive leg) must evaluate exactly once
    assert opt.count("split(") <= 2, opt
    assert opt.count("md5(") == 1, opt


def test_tpch_q9_broadcasts_dims_and_pushes_part_filter(spark):
    """Q9 (now a bench headline): the part name filter must reach the
    part scan, the two dim sides (filtered part, nation) must broadcast,
    and lineitem's scan must prune to the 6 columns the profit
    expression needs."""
    df = _df(spark, "q_tpch_q9_shape")
    pushed = " ".join(pushed_filters(df))
    assert "p_name" in pushed, pushed
    kinds = join_kinds(df)
    assert kinds.count("BroadcastHashJoin") >= 2, kinds
    li = [s for s in scan_schemas(df) if "l_extendedprice" in s]
    assert li and all("l_comment" not in s for s in li), li


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing both sides of a repeat join on the same key + bucket
    count persists the partitioning into the table layout: the join
    plans as a SortMergeJoin over the bucketed scans with ZERO shuffle
    exchanges. This is the amortize-the-ingress answer to the
    reference's per-run re-partition (assembly_final.cpp:656-668)."""
    from bigdatagenomic_spark.sources.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path}'")
    saved_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            "bktest.orders_b", keys=["o_orderkey"], n_buckets=4,
            sort_by=["o_orderkey"],
        )
        write_bucketed(
            lineitem.select(
                lineitem.l_orderkey.alias("o_orderkey"), "l_quantity"
            ),
            "bktest.lineitem_b", keys=["o_orderkey"], n_buckets=4,
            sort_by=["o_orderkey"],
        )
        # force the join path that would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(
            spark, "bktest.orders_b", "bktest.lineitem_b", on=["o_orderkey"]
        )
        assert exchange_count(joined) == 0, formatted_plan(joined)
        assert "SortMergeJoin" in join_kinds(joined), join_kinds(joined)
        # same bucketing kills the aggregation exchange too
        agg = spark.table("bktest.lineitem_b").groupBy("o_orderkey").count()
        assert exchange_count(agg) == 0, formatted_plan(agg)
        # sanity: the join is not just planned, it computes
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thresh)
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_sequence_gaps_window_is_partitioned(spark):
    """q_x_sequence_gaps must never lag over the whole distinct-id set
    in one partition: the lag window is per range-partition (pid) with
    seams reconciled from bounded per-partition stats."""
    df = _df(spark, "q_x_sequence_gaps")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_pid" in opt, opt
    assert opt.count("windowspecdefinition") == 1, opt


def test_basket_pairs_topk_and_no_cartesian(spark):
    """The pair pass must stay an equi self-join on the order key
    (never a cross product) and take its top-k via TakeOrdered, not a
    global sort."""
    df = _df(spark, "q_x_basket_pairs")
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds and "BroadcastNestedLoopJoin" not in kinds, kinds
    assert has_operator(df, "TakeOrderedAndProject"), formatted_plan(df)


def test_dup_spans_frequency_shuffle_is_narrow(spark):
    """q_text_dup_spans' corpus-wide frequency pass must shuffle only
    the 28-byte (doc_id, pos, h1, h2) fingerprint rows — span TEXT in a
    span-keyed exchange would multiply the payload by the span width
    (the boilerplate-pass invariant, applied to the overlapping-span
    variant)."""
    import re

    df = _df(spark, "q_text_dup_spans")
    plan = formatted_plan(df)
    sections = re.split(r"\n\(\d+\) ", plan)
    h_exchanges = [
        s for s in sections
        if s.startswith("Exchange") and "hashpartitioning(h1" in s
    ]
    assert h_exchanges, "expected an (h1, h2)-keyed exchange in:\n" + plan
    for s in h_exchanges:
        assert "span" not in s.split("Arguments:")[0], s


def test_round9_ops_plan_shapes(spark):
    """Shuffle-budget pins for the round-9 operators: the map-only ops
    may shuffle only for their final deterministic ORDER BY (and a
    1-row stats/agg exchange where declared); none may plan a
    SortMergeJoin over corpus-sized streams."""
    # TTR: pure scan projection + output sort
    df = _df(spark, "q_text_ttr")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 1
    # BM25: 1-row stats aggregate + TakeOrdered, no corpus join; +1
    # exchange since round 14 — the scale-adaptive fan_out after the
    # narrow-split scan (sources/tables.py; A/B 1.65 vs 2.03 s, the
    # tokenize is the heavy per-row case), a no-op on multi-split inputs
    df = _df(spark, "q_text_bm25")
    assert "SortMergeJoin" not in join_kinds(df)
    assert exchange_count(df) <= 3
    assert has_operator(df, "TakeOrderedAndProject")
    # attribution: ONE user-keyed window exchange + output sort, no join
    df = _df(spark, "q_x_attribution")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 2
    # OLS trend: one map-side-combined hash aggregate + output sort
    df = _df(spark, "q_x_linreg")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 2
    plan = formatted_plan(df)
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine
    # range search: scan + broadcast, NO window operator at all
    df = _df(spark, "q_sim_range_search")
    assert not has_operator(df, "Window")
    assert "SortMergeJoin" not in join_kinds(df)
    # CDC: chunk-hash window + output sort only; no join anywhere.
    # Boundary detection must stay the VECTORIZED Arrow kernel
    # (ArrowEvalPython), never row-at-a-time Python (BatchEvalPython)
    # and never the interpreted HOF expression form (measured 6x
    # slower at sf0.1 — llm_prep._cdc_cuts_udf docstring)
    # +1 exchange since round 14: the scale-adaptive fan_out after the
    # narrow-split scan raises the Arrow kernel's task parallelism from
    # the input's split count (1 on this testdata) to the cluster's
    # slots; a no-op on multi-split inputs
    df = _df(spark, "q_text_cdc_chunks")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 3
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_tranche_c_contract_plan_shapes(spark):
    """Plan pins for sentinel tranche C (q16-q23) ahead of their
    round-14 driver-gate re-entry (VERDICT r12 #6). The pure-scan
    members (q17-q22) must stay single-scan map-only jobs: pruned
    read schema, no join, one ORDER BY exchange; the set-op and
    subquery members must broadcast, never sort-merge."""
    # q16 INTERSECT: two 1-column pruned scans, broadcast-only joins
    df = _df(spark, "q16_intersect")
    assert set(join_kinds(df)) == {"BroadcastHashJoin"}
    assert sorted(scan_schemas(df)) == [
        "struct<c_nationkey:int>", "struct<s_nationkey:int>",
    ]
    assert exchange_count(df) <= 2  # distinct agg + output sort
    # q17 string funcs: one pruned parts scan, no shuffle but the sort
    df = _df(spark, "q17_string_funcs")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 1
    (schema,) = scan_schemas(df)
    assert schema == (
        "struct<p_partkey:bigint,p_name:string,p_brand:string,"
        "p_type:string>"
    )
    # q18 date funcs: 1-column orders scan; agg + output sort
    df = _df(spark, "q18_date_funcs")
    assert join_kinds(df) == []
    assert scan_schemas(df) == ["struct<o_orderdate:timestamp_ntz>"]
    assert exchange_count(df) <= 2
    # q19 math funcs: 5-of-16-column lineitem scan, map-only + sort
    df = _df(spark, "q19_math_funcs")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 1
    (schema,) = scan_schemas(df)
    assert schema.count(":") == 5  # pruned to exactly 5 columns
    # q20 case/when: 2-column orders scan, map-only + sort
    df = _df(spark, "q20_case_when")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 1
    assert scan_schemas(df) == [
        "struct<o_orderkey:bigint,o_totalprice:double>"
    ]
    # q21 array L2 norm: embeddings scan, row-local HOF, no shuffle
    # beyond the sort — the vector math must stay inside the scan stage
    df = _df(spark, "q21_array_l2norm")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 1
    assert scan_schemas(df) == [
        "struct<vec_id:bigint,embedding:array<float>>"
    ]
    # q22 JSON extraction: 2-column events scan, map-only + sort
    df = _df(spark, "q22_json_extract")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 1
    assert scan_schemas(df) == ["struct<event_id:bigint,props:string>"]
    # q23 scalar subquery: the avg cutoff must PUSH to the fact scan as
    # a ScalarSubquery filter (not a post-scan Filter), no join at all
    df = _df(spark, "q23_subquery")
    assert join_kinds(df) == []
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThan(o_totalprice" in pushed
    assert "ScalarSubquery" in pushed
    assert exchange_count(df) <= 2  # subquery agg + output sort


def test_round13_ops_plan_shapes(spark):
    """Shuffle/join-budget pins for the round-13 statistics ops: both
    collapse the fact table to a checkpointed grid, so no corpus-sized
    join or unpartitioned fact window may ever appear."""
    # Kendall tau-b: broadcast-only joins (cell grid self-join + two
    # marginal attaches), never sort-merge over facts
    df = _df(spark, "q_x_kendall_tau")
    kinds = join_kinds(df)
    assert kinds and set(kinds) == {"BroadcastHashJoin"}
    assert not has_operator(df, "CartesianProduct")
    # Theil-Sen: broadcast pair join over the daily grid; the median
    # window runs on the bounded pair table, partitioned by type
    df = _df(spark, "q_x_theil_sen")
    kinds = join_kinds(df)
    assert kinds and set(kinds) == {"BroadcastHashJoin"}
    assert has_operator(df, "Window")
    plan = formatted_plan(df)
    # window keyed by type, never global: the partition key is the FIRST
    # argument of every windowspecdefinition in the plan (ADVICE r13
    # killed the vacuous `or "event_type" in plan` fallback here — the
    # scan mentions event_type in every plan, so it could never fail)
    import re

    specs = re.findall(r"windowspecdefinition\(([^,)]+)", plan)
    assert specs, "theil_sen plan lost its Window specs"
    assert all(s.strip().startswith("event_type#") for s in specs), specs


def test_round14_ops_plan_shapes(spark):
    """Shuffle/join-budget pins for the round-14 ops: Mann-Kendall
    mirrors Theil-Sen's checkpointed-grid + broadcast day-pair shape
    (no window at all — S is a plain aggregate); kappa is one map-side
    combined aggregate, no joins, only the two rater bits leave the
    scan."""
    import re

    df = _df(spark, "q_x_mann_kendall")
    kinds = join_kinds(df)
    assert kinds and set(kinds) == {"BroadcastHashJoin"}
    assert not has_operator(df, "CartesianProduct")
    assert not has_operator(df, "Window")
    plan = formatted_plan(df)
    assert "partial_sum" in plan  # map-side combine on the pair agg

    df = _df(spark, "q_x_cohens_kappa")
    assert join_kinds(df) == []
    assert not has_operator(df, "Window")
    plan = formatted_plan(df)
    assert "partial_sum" in plan or "partial_count" in plan
    # agg hashpartitioning + declared ORDER BY only
    assert exchange_count(df) <= 2
    # column pruning: only source/n_chars/text reach the documents scan
    (schema,) = scan_schemas(df)
    assert "doc_id" not in schema and "lang" not in schema


def test_tranche_a_sentinel_plan_shapes(spark):
    """Round-15 sentinel prep (the tranche-C precedent from round 13):
    pins for the tranche-A entries that lack a dedicated plan test
    (q01/q03/q08/q15/q24/q25/q26 already have one above). Explain-only."""
    # q10: HLL sketch must aggregate partially map-side — one exchange,
    # a single-partition gather of the per-partition sketches
    df = _df(spark, "q10_approx_count_distinct")
    plan = formatted_plan(df)
    assert "partial_approx_count_distinct" in plan
    assert exchange_count(df) == 1
    # q13: the rank window shuffles ONCE on its partition key and the
    # scan reads only the three projected columns
    df = _df(spark, "q13_rank_window")
    assert has_operator(df, "Window")
    assert exchange_count(df) <= 2  # window hash + declared ORDER BY
    (schema,) = scan_schemas(df)
    assert schema == "struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"
    # q_s02: the tumbling-window batch shape is one agg over the scan —
    # window binning is a projection, never a join or extra shuffle
    df = _df(spark, "q_s02_window_agg")
    assert join_kinds(df) == []
    assert exchange_count(df) <= 2  # agg hash + declared ORDER BY
    # q27: the full assembly pipeline must stay cartesian-free and keep
    # its joins broadcast at sf0.1 (the path-merge fold's shape)
    df = _df(spark, "q27_assembly")
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert kinds and all(
        k in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
        for k in kinds
    )
