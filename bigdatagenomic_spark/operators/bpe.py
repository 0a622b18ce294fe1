"""Distributed BPE tokenizer training (byte-pair-encoding merge
learning) — the tokenizer-fitting step of an LLM data pipeline,
expressed as iterative window algebra over the corpus WORD-FREQUENCY
table (never the corpus itself).

Sennrich et al. 2016 semantics, deterministic variant: each round picks
the adjacent symbol pair with the highest corpus frequency (ties: the
lexicographically smallest pair) and merges its greedy LEFTMOST
non-overlapping occurrences in every word. Greedy-leftmost inside a run
of identical symbols ("aaaa" merging (a,a) -> "aa aa", never "a aa a")
is exactly "merge the candidates at even offset from their run's start"
— which turns the merge into a chain of per-word window functions:

    nxt       = lead(sym)                 -- the pair at this position
    cand      = (sym, nxt) == best pair
    is_start  = cand AND NOT lag(cand)    -- run starts
    run_start = last(start_pos IGNORE NULLS) running  -- my run's start
    kept      = cand AND (pos - run_start) % 2 == 0   -- even offsets
    drop rows whose PREDECESSOR merged; renumber pos

Every window partitions by (word) with the same order, so the whole
6-step merge chain collapses to ONE exchange + sort; a round's full
cost is two word-partitioned exchanges (pair-count lead + merge chain)
plus the pair aggregation, all over the symbol table, whose size is
bounded by total vocabulary characters — at 100 TB of text the vocab
is millions of words (not trillions of tokens), so each of the
n_merges rounds shuffles a small, constant-width table; the only
corpus-sized job is the initial word count. The argmax is a 1-row
aggregate broadcast back (same bounded pattern as tfidf's scalar).

The whole computation is engine-portable window algebra: the DuckDB
oracle (Q_TEXT_BPE_TRAIN_SQL) is the identical chain unrolled one CTE
block per round, so the driver hash-checks the full training run, not
just one merge.

Reference scope note: the reference (assembly_final.cpp) has no text
layer; this extends the engine's LLM-pipeline surface (SURVEY.md §2.C)
alongside q_text_bpe_tokens (the pre-tokenizer regex counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import tokens
from bigdatagenomic_spark.sources.tables import fan_out, load_table

N_MERGES = 8


def _pair_counts(syms: DataFrame) -> DataFrame:
    w = W.partitionBy("word").orderBy("pos")
    return (
        syms.select("word", "freq", "sym", F.lead("sym").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
        .groupBy("sym", "nxt")
        .agg(F.sum("freq").alias("cnt"))
    )


def _best_pair(counts: DataFrame) -> DataFrame:
    """1-row (p1, p2): highest count, ties to the smallest (sym, nxt).

    A global aggregate (not orderBy().limit(1)) so the result is ALWAYS
    exactly one row — NULLs once no pairs remain, which downstream
    treats as 'merge nothing' (the fixed-round loop then idles instead
    of annihilating the table through a cross join with zero rows)."""
    m = F.min(
        F.struct(
            (-F.col("cnt")).alias("nc"),
            F.col("sym").alias("p1"),
            F.col("nxt").alias("p2"),
        )
    ).alias("m")
    return counts.agg(m).select(F.col("m.p1").alias("p1"), F.col("m.p2").alias("p2"))


def _merge_round(syms: DataFrame, best: DataFrame) -> DataFrame:
    w = W.partitionBy("word").orderBy("pos")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    a = syms.crossJoin(F.broadcast(best)).select(
        "word", "freq", "pos", "sym", "p1", "p2", F.lead("sym").over(w).alias("nxt")
    )
    b = a.select(
        "word",
        "freq",
        "pos",
        "sym",
        "nxt",
        (
            F.col("nxt").isNotNull()
            & F.col("p1").isNotNull()
            & (F.col("sym") == F.col("p1"))
            & (F.col("nxt") == F.col("p2"))
        ).alias("cand"),
    )
    c = b.select(
        "*",
        F.when(
            F.col("cand") & ~F.coalesce(F.lag("cand").over(w), F.lit(False)),
            F.col("pos"),
        ).alias("start_pos"),
    )
    d = c.select(
        "*", F.last("start_pos", ignorenulls=True).over(run).alias("run_start")
    )
    e = d.select(
        "*",
        F.coalesce(
            F.col("cand")
            & (F.pmod(F.col("pos") - F.col("run_start"), F.lit(2)) == 0),
            F.lit(False),
        ).alias("kept"),
    )
    f = e.select(
        "*", F.coalesce(F.lag("kept").over(w), F.lit(False)).alias("prev_kept")
    )
    return (
        f.where(~F.col("prev_kept"))
        .select(
            "word",
            "freq",
            F.row_number().over(w).alias("pos"),
            F.when(F.col("kept"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )


def bpe_train(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """(word, freq, n_sym, segmented) — the corpus vocabulary after
    ``n_merges`` BPE merges, each word's final symbol sequence joined
    with spaces. ``localCheckpoint`` per round cuts the 8-deep window
    lineage (same iterative pattern as graph.pagerank)."""
    vocab = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    i = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos")
    # EAGER per-round checkpoints, deliberately (round 15, VERDICT r14
    # #6 re-audited): the lazy form (materialize inside the next
    # round's best-pair broadcast, zero standalone jobs) was
    # interleaved-A/B'd and measured WORSE at the preflight SF (eager
    # 4.14 s vs lazy 4.55 s at sf0.01; wash at sf0.1) — the broadcast
    # build serializes the previous round's merge windows into its
    # blocking path, costing more than the saved job submission.
    # Reverted per the measured-wins-only rule (OPTIMIZATION_r15.md).
    syms = vocab.select(
        "word", "freq", i
    ).select(
        "word", "freq", "pos", F.col("word").substr(F.col("pos"), F.lit(1)).alias("sym")
    ).localCheckpoint(eager=True)
    for _ in range(n_merges):
        best = _best_pair(_pair_counts(syms))
        syms = _merge_round(syms, best).localCheckpoint(eager=True)
    return syms.groupBy("word", "freq").agg(
        F.count("*").cast("long").alias("n_sym"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ),
            " ",
        ).alias("segmented"),
    )


def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train(load_table(spark, sf_dir, "documents")).orderBy("word")


def _bpe_oracle_sql(n_merges: int = N_MERGES) -> str:
    base = """
  tok AS (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS word
    FROM documents WHERE text IS NOT NULL),
  vocab AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
  s0 AS MATERIALIZED (
    SELECT word, freq, CAST(i AS INT) AS pos,
           substr(word, CAST(i AS INT), 1) AS sym
    FROM vocab, unnest(range(1, len(word) + 1)) u(i))"""
    # AS MATERIALIZED is load-bearing: DuckDB 1.0 INLINES plain CTEs at
    # every reference site, and each round references the previous one
    # ~3x (pair counts + two scalar subqueries) — un-materialized, s0
    # would be re-evaluated 3^n_merges times (observed as a hang at
    # n_merges=8 on 6k docs).
    steps = []
    for k in range(1, n_merges + 1):
        steps.append(f"""
  p{k} AS MATERIALIZED (
    SELECT word, freq, pos, sym,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM s{k - 1}),
  pc{k} AS MATERIALIZED (
    SELECT sym, nxt, sum(freq) AS cnt FROM p{k}
    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
  b{k} AS (
    SELECT (SELECT sym FROM pc{k} ORDER BY cnt DESC, sym, nxt LIMIT 1) AS p1,
           (SELECT nxt FROM pc{k} ORDER BY cnt DESC, sym, nxt LIMIT 1) AS p2),
  c{k} AS (
    SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
           (p.nxt IS NOT NULL AND b.p1 IS NOT NULL
            AND p.sym = b.p1 AND p.nxt = b.p2) AS cand
    FROM p{k} p CROSS JOIN b{k} b),
  d{k} AS (
    SELECT *, CASE WHEN cand AND NOT coalesce(
                lag(cand) OVER (PARTITION BY word ORDER BY pos), false)
              THEN pos END AS start_pos
    FROM c{k}),
  e{k} AS (
    SELECT *, last_value(start_pos IGNORE NULLS)
                OVER (PARTITION BY word ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS run_start
    FROM d{k}),
  f{k} AS (
    SELECT *, coalesce(cand AND (pos - run_start) % 2 = 0, false) AS kept
    FROM e{k}),
  g{k} AS (
    SELECT *, coalesce(lag(kept) OVER (PARTITION BY word ORDER BY pos),
                       false) AS prev_kept
    FROM f{k}),
  s{k} AS MATERIALIZED (
    SELECT word, freq,
           CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS INT)
             AS pos,
           CASE WHEN kept THEN sym || nxt ELSE sym END AS sym
    FROM g{k} WHERE NOT prev_kept)""")
    return (
        "WITH" + base + "," + ",".join(steps)
        + f"""
SELECT word, freq, CAST(count(*) AS BIGINT) AS n_sym,
       string_agg(sym, ' ' ORDER BY pos) AS segmented
FROM s{n_merges} GROUP BY word, freq ORDER BY word"""
    )


Q_TEXT_BPE_TRAIN_SQL = _bpe_oracle_sql()


def bpe_encode(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens, compression) — encode every
    document with the merges just trained on the same corpus: each
    word's BPE token count is its trained symbol count, so encoding is
    ONE equi-join of the per-doc word counts against the trained
    vocabulary (word → n_sym) — the apply side of the train/apply pair,
    and the unit everything downstream budgets in (q_x_token_budget_mix,
    q_text_pack count whitespace tokens; a trained tokenizer counts
    sub-word units).

    100 TB shape: the join key is the word, both sides word-bounded on
    the build side (vocab) and (doc, word)-aggregated on the probe side
    — the corpus text itself is never shuffled. compression =
    chars/token rounded at 4, the per-doc tokenizer-efficiency metric.
    """
    seg = bpe_train(docs, n_merges=n_merges).select("word", "n_sym")
    words = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n_occ"))
    )
    return (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sym")).cast("long").alias(
                "n_bpe_tokens"
            ),
            F.round(
                F.sum(F.col("n_occ") * F.length("word"))
                / F.sum(F.col("n_occ") * F.col("n_sym")).cast("double"),
                4,
            ).alias("compression"),
        )
    )


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def _bpe_encode_oracle_sql(n_merges: int = N_MERGES) -> str:
    train = _bpe_oracle_sql(n_merges)
    chain = train[: train.rindex("SELECT word, freq")]
    return (
        chain
        + f""", seg AS (
    SELECT word, CAST(count(*) AS BIGINT) AS n_sym
    FROM s{n_merges} GROUP BY word),
  dw AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS word
    FROM documents WHERE text IS NOT NULL),
  wc AS (
    SELECT doc_id, word, count(*) AS n_occ FROM dw GROUP BY doc_id, word)
SELECT wc.doc_id,
       CAST(sum(wc.n_occ) AS BIGINT) AS n_words,
       CAST(sum(wc.n_occ * seg.n_sym) AS BIGINT) AS n_bpe_tokens,
       round(sum(wc.n_occ * len(wc.word))
             / CAST(sum(wc.n_occ * seg.n_sym) AS DOUBLE), 4) AS compression
FROM wc JOIN seg USING (word)
GROUP BY wc.doc_id ORDER BY wc.doc_id"""
    )


Q_TEXT_BPE_ENCODE_SQL = _bpe_encode_oracle_sql()
