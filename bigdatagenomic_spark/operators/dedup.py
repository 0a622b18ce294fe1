"""Deduplication operators over ``documents`` / ``embeddings`` (north
star; SURVEY.md §2.B Q24 + the LLM-pipeline dedup families — no reference
counterpart, SURVEY.md §0).

Five dedup families, all as declarative DataFrame plans:

  * exact        — md5 group-by, keep lowest doc_id (``q24`` + survivors)
  * n-gram Jaccard — distinct word-3-gram shingles, shingle-bucket
                   self-join, exact Jaccard (the verify stage every
                   approximate family reduces to)
  * MinHash+LSH  — 16 deterministic permutations (md5-based, portable),
                   4 bands x 4 rows, band-bucket join -> candidate pairs
                   -> exact-Jaccard verification
  * SimHash      — 32-bit sign-of-sum signature over token hashes
  * embedding cosine — exact pairwise cosine over a bounded sample

Everything is deterministic (md5-backed hash family, fixed coefficients)
so even the "approximate" families hash-match their DuckDB oracles.

Scale notes: the shingle self-join is the classic near-dup plan at 100 TB
— explode to (shingle, doc) pairs, shuffle on shingle, pair within
buckets. Hot shingles (stopword-only trigrams) are the skew risk; the
LSH path bounds bucket width by construction (band signature), and the
exact path should be run only on LSH candidates at scale (here also
exposed standalone, on a bounded doc sample, for the oracle gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import (
    MERSENNE31,
    MINHASH_COEFFS,
    cosine,
    md5_long,
    normalize_text,
    tokens,
    word_shingles,
)
from bigdatagenomic_spark.sources.tables import fan_out, load_table

# bounded samples keep the O(n^2)-flavored checks cheap at any sf
PAIR_SAMPLE_DOCS = 400
EMB_SAMPLE_VECS = 200
JACCARD_THRESHOLD = 0.05
COSINE_DUP_THRESHOLD = 0.25


def q24_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (lowest doc_id) per distinct text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("group_size"))
        .select("keep_id", "group_size")
        .orderBy("keep_id")
    )


def _doc_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs — distinct word-3-gram shingles per doc."""
    return d.select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")), 3)).alias("sh")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity for a bounded doc sample."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    sh = _doc_shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), "sh")
    b = sh.select(F.col("doc_id").alias("b_id"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"))
    jacc = (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jacc"),
        )
    )
    return jacc.where(F.col("jacc") >= JACCARD_THRESHOLD).orderBy("a_id", "b_id")


def _shingle_base(d: DataFrame) -> DataFrame:
    """(doc_id, shs ARRAY<STRING>, hs ARRAY<BIGINT>) — the per-doc distinct
    shingle set and its hashed form, computed ONCE as a narrow map (the
    shingle set is per-document data, so it never needs a shuffle; the md5
    is hoisted so the 16 permutations below reuse one hash per shingle).

    NULL texts are dropped up front: the explode-based formulation this
    plan replaced skipped NULL-shingle docs row-wise, whereas array_min
    over a NULL array would instead emit a doc with all-NULL signatures
    whose band key degenerates to md5('') — every NULL doc would collide
    into one spurious LSH bucket. Filtering keeps the two formulations
    (and the SQL oracles, which carry the same predicate) identical."""
    return d.where(F.col("text").isNotNull()).select(
        "doc_id", word_shingles(tokens(F.col("text")), 3).alias("shs")
    ).withColumn(
        "hs", F.transform("shs", lambda s: md5_long(s) % MERSENNE31)
    )


def _signature_exprs() -> list:
    """The 16 minhash permutation expressions over the ``hs`` column —
    defined once so the standalone signature query and the LSH pair
    pipeline can never drift apart on the permutation formula."""
    return [
        F.array_min(
            F.transform("hs", lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31)
        ).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]


def minhash_signatures(d: DataFrame) -> DataFrame:
    """16 minhash values per doc over the deterministic md5 hash family.

    Shuffle-free: each permutation is ``array_min`` over a ``transform``
    of the per-doc hashed-shingle array — a map-only stage at any scale
    (vs the naive explode + 16-way groupBy aggregation, which shuffles
    every (doc, shingle) pair; same values, the min over the same set)."""
    return _shingle_base(d).select("doc_id", *_signature_exprs())


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    return minhash_signatures(d).orderBy("doc_id")


def band_keys_for(bands: int, rows: int):
    """LSH band-key array expression over signature columns s0..s15 for
    an explicit (bands, rows) config (bands*rows <= 16) — the one
    banding formula, shared by the fixed 4x4 default, the tuning sweep
    and the auto-configured pair pass so they can never drift."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(",", *[f"s{band * rows + r}" for r in range(rows)])
            )
            for band in range(bands)
        ]
    )


def _band_keys():
    """The default 4x4 LSH band-key array — shared by the full pair
    pass and the incremental index update."""
    return band_keys_for(4, 4)


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands x 4 rows): candidate pairs sharing any band,
    verified with exact Jaccard.

    Plan shape:
      1. map-only: shingle set + 16 minhash mins + 4 band keys per doc
         (no explode/groupBy — see minhash_signatures)
      2. band-bucket self-join on NARROW (band, bkey, doc_id) rows — THE
         shuffle that makes LSH scale: candidates come from equal 16-bit
         band signatures, never an all-pairs product, and the wide
         shingle arrays stay OUT of the self-join shuffle (a doc's bands
         would otherwise carry its whole shingle set 4x through the
         exchange); exchange reuse covers both sides
      3. only the SURVIVING candidate pairs join back the two per-doc
         shingle sets (equi-join on doc_id; AQE broadcasts the bounded
         side) and the verify is ``array_intersect`` on row-local
         arrays — no second shingle explode; at 100 TB this is the step
         that shuffles |candidates| rows, not |corpus| x 4
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    # pin the per-doc shingle sets once (round 14): the verify stage
    # joins `base` on BOTH pair sides, and un-pinned each side re-ran
    # the scan + tokenize + shingle subtree (the sf0.1 plan had 4
    # `Scan parquet` nodes unpinned and 0 pinned, where 4 `Scan
    # ExistingRDD` nodes read the two pins; check at any revision with
    # `git worktree add --detach DIR REV` and, in DIR,
    # `python -m bigdatagenomic_spark.cli query q_dedup_minhash_pairs
    # --explain --limit 0`). The
    # table is bounded by PAIR_SAMPLE_DOCS, so materializing it is
    # driver-bounded by construction; measured 1.38 -> 1.10 s at sf0.1
    # together with the band-table pin in lsh_candidate_pairs.
    return _jaccard_verify(
        lsh_candidate_pairs(d), _shingle_base(d).localCheckpoint(eager=False)
    )


def lsh_candidate_pairs(d: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs (a_id < b_id) of a (doc_id, text)
    corpus — docs sharing at least one band key. The shared candidate
    stage of the batch pair pass and the streaming index maintenance
    (streaming/ops.py), kept in one place so the banding can't drift.
    dropDuplicates on the pair key: a pair colliding in 2 bands must
    count once.

    The band table is pinned (lazy localCheckpoint) before the
    self-join: both join sides reference it, and un-pinned each side
    re-derived the 16-permutation signature pipeline from raw text
    (round 14; the streaming index path already pins its per-batch
    band table the same way, streaming/ops.py). Narrow (doc_id, band,
    bkey) rows, so the pin is cheap at any corpus size — the
    production analog is persisting the signature table."""
    bands = lsh_band_table(d).localCheckpoint(eager=False)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


def _jaccard_verify(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs: the
    two per-doc shingle sets attach via equi-joins on doc_id (AQE
    broadcasts the bounded side) and the verify is ``array_intersect``
    on row-local arrays — shingles are distinct within a doc, so
    intersect size == common count. At 100 TB this step shuffles
    |candidates| rows, not |corpus| x bands."""
    sets = base.select("doc_id", F.size("shs").alias("n_sh"), "shs")
    pairs = cand.join(
        sets.select(
            F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"),
            F.col("shs").alias("shs_a"),
        ),
        "a_id",
    ).join(
        sets.select(
            F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"),
            F.col("shs").alias("shs_b"),
        ),
        "b_id",
    )
    common = F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        pairs.select(
            "a_id",
            "b_id",
            F.round(
                common / (F.col("n_a") + F.col("n_b") - common), 4
            ).alias("jacc"),
        )
        .orderBy("a_id", "b_id")
    )


def simhash_signatures(d: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash over token hashes (term-frequency weighted).

    MAP-ONLY, like :func:`minhash_signatures`: the per-doc token-hash
    array is computed once (staged projection — CollapseProject keeps a
    multiply-referenced non-cheap alias staged, so the tokenizer and
    md5 run once per row), and each bit's ±1 vote total is a JVM
    ``aggregate`` fold over that row-local array. The explode +
    32-conditional-sum ``groupBy`` this replaces shuffled every
    (doc, token) occurrence — at 100 TB that is a corpus-sized exchange
    for what is per-document arithmetic. Same values: a sum over the
    same token multiset. Docs with zero tokens (incl. NULL text) are
    dropped up front, matching the explode formulation (no rows → no
    group) and the SQL oracle (unnest emits nothing).
    """
    toks = tokens(F.col("text"))
    # filter on the raw token array, not on hs: a predicate on hs gets
    # pushed below the projection and re-runs the per-token md5 once
    # per row just to check emptiness; size(tokens) re-runs only the
    # cheap split (NULL text → size NULL → dropped, like unnest)
    hs = d.where(F.size(toks) > 0).select(
        "doc_id", F.transform(toks, md5_long).alias("hs")
    )
    bit_sums = [
        F.aggregate(
            "hs",
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1)),
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = hs.select("doc_id", *bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    return simhash_signatures(d).orderBy("doc_id")


def q_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over a bounded vector sample."""
    e = (
        fan_out(load_table(spark, sf_dir, "embeddings"))
        .where(F.col("vec_id") < EMB_SAMPLE_VECS)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # norms hoisted out of the O(n^2) pair join: one fold per vector
    # instead of two extra folds per pair (same float result — the norm
    # is the identical expression either way)
    from bigdatagenomic_spark.functions import dot

    en = e.withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = en.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = en.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    return (
        pairs.select("a_id", "b_id", sim.alias("sim"))
        .where(F.col("sim") >= COSINE_DUP_THRESHOLD)
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# survivorship: from near-dup PAIRS to the cleaned corpus
# ---------------------------------------------------------------------------

def near_dup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into groups and keep one doc per group.

    Pairs only say "a ~ b"; near-duplication is transitive in practice
    (a~b, b~c -> one cluster), so the dedup unit is the CONNECTED
    COMPONENT of the similarity graph, not the pair. Components come
    from the generic graph operator (hash-min propagation); the survivor
    is the lowest doc_id per component; docs that appear in no pair
    survive by default. This is the operator a training pipeline
    actually runs: corpus in, deduplicated corpus out.
    """
    from bigdatagenomic_spark.operators.graph import connected_components

    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    comp = connected_components(edges)  # (id, component) for paired docs only
    survivors_in_groups = comp.groupBy("component").agg(
        F.min("id").alias("keep_id")
    )
    drop = (
        comp.join(
            survivors_in_groups,
            comp["id"] == survivors_in_groups["keep_id"],
            "left_anti",
        )
        .select(F.col("id").alias("doc_id"))
    )
    return docs.join(drop, "doc_id", "left_anti")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH candidates -> exact-Jaccard
    verification -> transitive clustering -> surviving corpus.
    Hash-checked against a recursive-CTE closure oracle; survivors also
    exact-matched against union-find in tests/test_llm_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    pairs = q_dedup_minhash_pairs(spark, sf_dir).where(
        F.col("jacc") >= JACCARD_THRESHOLD
    )
    return near_dup_survivors(d.select("doc_id"), pairs).orderBy("doc_id")


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair, the
    signature-agreement estimate of Jaccard (fraction of the 16
    permutations that agree — the unbiased MinHash estimator) next to
    the exact Jaccard and the absolute error. This is the measurement
    that says whether 16 permutations are enough for the configured
    threshold before committing a 100 TB dedup run to it. Scale shape:
    the bounded candidate-pair set equi-joins back to the signature
    table twice on doc_id — the corpus itself is never touched again.
    Agreement is a multiple of 1/16 (exact in binary), so the estimate
    hash-checks across engines.
    """
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < PAIR_SAMPLE_DOCS
    )
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    sig = minhash_signatures(d)
    sa = sig.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(16)],
    )
    agree = None
    for i in range(16):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    est = agree / F.lit(16.0)
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "jacc",
            F.round(est, 4).alias("est"),
            F.round(F.abs(est - F.col("jacc")), 4).alias("err"),
        )
        .orderBy("a_id", "b_id")
    )


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the dedup QA view.

    Before committing to a dedup pass on a training corpus you want the
    collapse profile: how many clusters of size 2, 3, ... the verified
    pair graph induces (a heavy tail here usually means boilerplate or
    templated spam, not true near-duplicates). Reuses the verified-pair
    → connected-component path of :func:`near_dup_survivors`; the
    histogram itself is two bounded aggregates (|paired docs| →
    |clusters| → |distinct sizes|), so the result is tiny at any corpus
    scale. Hash-checked against the same recursive-CTE closure oracle
    as q_dedup_survivors.
    """
    from bigdatagenomic_spark.operators.graph import connected_components

    pairs = q_dedup_minhash_pairs(spark, sf_dir).where(
        F.col("jacc") >= JACCARD_THRESHOLD
    )
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    comp = connected_components(edges)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# fuzzy (edit-distance) dedup with blocking
# ---------------------------------------------------------------------------
FUZZY_SAMPLE_PARTS = 1000
FUZZY_MAX_DIST = 2


def fuzzy_pairs(
    names: DataFrame, key: str, name: str, max_dist: int = FUZZY_MAX_DIST
) -> DataFrame:
    """Near-identical name pairs by edit distance, with blocking.

    The all-pairs edit-distance matrix is O(n²·L²) and a non-starter;
    the classic fix is BLOCKING on cheap necessary conditions — here
    the first character plus a length band (edit distance ≤ d implies
    length difference ≤ d) — so the self-join is an equi-join on the
    block key and levenshtein only runs on candidates, exactly the
    LSH-then-verify shape the other dedup families use.
    """
    base = names.select(
        F.col(key).alias("k"),
        F.lower(F.col(name)).alias("nm"),
        F.substring(F.lower(F.col(name)), 1, 1).alias("blk"),
        F.length(F.col(name)).alias("ln"),
    )
    a = base.select(
        F.col("k").alias("a_id"), F.col("nm").alias("a_nm"),
        F.col("blk"), F.col("ln").alias("a_ln"),
    )
    b = base.select(
        F.col("k").alias("b_id"), F.col("nm").alias("b_nm"),
        F.col("blk"), F.col("ln").alias("b_ln"),
    )
    return (
        a.join(b, "blk")
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_ln") - F.col("b_ln")) <= max_dist)
        )
        .withColumn("dist", F.levenshtein("a_nm", "b_nm"))
        .where(F.col("dist") <= max_dist)
        .select("a_id", "b_id", "dist")
    )


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_partkey") < FUZZY_SAMPLE_PARTS
    )
    return fuzzy_pairs(p, "p_partkey", "p_name").orderBy("a_id", "b_id")


Q_DEDUP_FUZZY_SQL = f"""
WITH base AS (
  SELECT p_partkey AS k, lower(p_name) AS nm,
         substr(lower(p_name), 1, 1) AS blk, length(p_name) AS ln
  FROM part WHERE p_partkey < {FUZZY_SAMPLE_PARTS}
)
SELECT a.k AS a_id, b.k AS b_id,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
FROM base a JOIN base b ON a.blk = b.blk
WHERE a.k < b.k AND abs(a.ln - b.ln) <= {FUZZY_MAX_DIST}
  AND levenshtein(a.nm, b.nm) <= {FUZZY_MAX_DIST}
ORDER BY a_id, b_id
"""


SIMHASH_MAX_HAMMING = 3
SIMHASH_CHUNKS = 4  # 8-bit chunks of the 32-bit signature


def simhash_pairs(
    sigs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, with chunk blocking.

    The pigeonhole trick that makes SimHash search scale: split the
    32-bit signature into 4 byte chunks. d bit flips can touch at most
    d chunks, so for d < 4 two signatures within Hamming distance d
    MUST agree exactly on at least one chunk — candidates come from an
    equi-join on (chunk_id, chunk_value), never an all-pairs scan, with
    guaranteed recall at max_hamming <= 3 (wider radii need more/
    overlapping chunks). The exact popcount(xor) verify runs only on
    candidates. Same LSH-then-verify shape as the MinHash family.
    """
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255))
            for i in range(SIMHASH_CHUNKS)
        ]
    )
    b = sigs.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("chunk", "cval")
    )
    left = b.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("sig_a"),
        "chunk", "cval",
    )
    right = b.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("sig_b"),
        "chunk", "cval",
    )
    cand = (
        left.join(right, ["chunk", "cval"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("a_id", "b_id", dist.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    return simhash_pairs(simhash_signatures(d)).orderBy("a_id", "b_id")


# ---------------------------------------------------------------------------
# asymmetric n-gram containment (doc-in-doc detection)
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.02


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B| / |A| over the bounded doc
    sample — the doc-in-doc signal Jaccard misses: a page quoting a
    whole smaller page scores low Jaccard (union is big) but high
    containment from the smaller side. Decontamination and boilerplate
    detection key on this, not on symmetric similarity.

    Same machinery as q_dedup_ngram_jaccard (distinct word-3-gram
    shingles, shingle-key equi-join — candidate generation is never
    all-pairs), but pairs keep BOTH directions (a!=b) and normalize by
    the left doc's shingle count only.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    sh = _doc_shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), "sh")
    b = sh.select(F.col("doc_id").alias("b_id"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"))
    cont = common.join(sa, "a_id").select(
        "a_id",
        "b_id",
        F.round(F.col("n_common") / F.col("n_a"), 4).alias("containment"),
    )
    return cont.where(
        F.col("containment") >= CONTAINMENT_THRESHOLD
    ).orderBy("a_id", "b_id")


# ---------------------------------------------------------------------------
# incremental LSH index maintenance (delta-vs-index candidate generation)
# ---------------------------------------------------------------------------
LSH_INCR_SPLIT = 300


def q_dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs for a NEW document batch against an existing LSH
    index — the daily-crawl shape: signatures and band keys are
    computed for the delta only, and candidate generation joins
    delta-bands against index-bands (new x all), never re-pairing the
    existing corpus with itself (old x old pairs were already emitted
    when those docs arrived). At 100 TB the index side is a STORED
    band table (bucketed on (band, bkey) — see sources/bucketing) and
    this query's shuffle carries only the delta.

    Docs below LSH_INCR_SPLIT play the indexed corpus; [split,
    PAIR_SAMPLE_DOCS) is the incoming batch. The oracle replays the
    FULL-corpus LSH banding and keeps pairs whose higher id is new —
    parity proves delta-maintenance emits exactly the pairs a full
    rebuild would add.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < PAIR_SAMPLE_DOCS)
    base = _shingle_base(d)
    sig = base.select("doc_id", *_signature_exprs())
    bands = sig.select("doc_id", F.posexplode(_band_keys()).alias("band", "bkey"))
    # the delta: only new docs explode fresh band keys; `bands` stands
    # in for the stored index table
    new_bands = bands.where(F.col("doc_id") >= LSH_INCR_SPLIT)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bkey")
    b = new_bands.select(F.col("doc_id").alias("b_id"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _jaccard_verify(cand, base)


def lsh_band_table(docs: DataFrame) -> DataFrame:
    """The LSH band table (doc_id, band, bkey) — one row per doc per
    band, the thing a production deployment STORES between crawls."""
    sig = _shingle_base(docs).select("doc_id", *_signature_exprs())
    return sig.select("doc_id", F.posexplode(_band_keys()).alias("band", "bkey"))


def materialize_lsh_band_index(
    docs: DataFrame, path: str, table: str, n_buckets: int = 8
) -> DataFrame:
    """Persist the LSH band index hash-bucketed (and sorted) on
    ``(band, bkey)`` — the exact key set the delta join clusters on
    (Catalyst promotes the band-equality residual into a join key, so
    the bucket columns must cover both). Pay the bucketing shuffle once
    at index-build time; every nightly delta-vs-index join then reads
    the index with its bucketing — ZERO Exchange on the (huge) index
    side, only the (small) delta shuffles (pinned in
    tests/test_scale.py).
    """
    from bigdatagenomic_spark.operators.scale import write_bucketed

    return write_bucketed(
        lsh_band_table(docs), path, table, ["band", "bkey"], n_buckets
    )


def lsh_incremental_pairs_indexed(
    index_bands: DataFrame, docs: DataFrame, split: int
) -> DataFrame:
    """Delta-vs-STORED-index candidate generation (the materialized
    form of :func:`q_dedup_lsh_incremental`'s in-memory plan, VERDICT
    r5 #5). ``index_bands``: the stored band table (ideally the
    bucketed table from :func:`materialize_lsh_band_index`); ``docs``:
    the full corpus (shingle sets for verification); ``split``: docs
    with id >= split are the incoming batch.

    The join equi-matches on ``bkey`` alone — the index's bucket
    column, so Spark reads the index with its bucketing and only the
    delta side shuffles — with band equality applied as a residual
    filter (two bands colliding on the same bkey is a 128-bit md5
    collision; the filter keeps semantics identical to the
    (band, bkey) equi-join either way). Verification and output match
    the in-memory formulation row-for-row.
    """
    base = _shingle_base(docs)
    sig = base.select("doc_id", *_signature_exprs()).where(
        F.col("doc_id") >= split
    )
    new_bands = sig.select(
        "doc_id", F.posexplode(_band_keys()).alias("band", "bkey")
    )
    a = index_bands.select(
        F.col("doc_id").alias("a_id"), F.col("band").alias("a_band"), "bkey"
    )
    b = new_bands.select(F.col("doc_id").alias("b_id"), "band", "bkey")
    cand = (
        a.join(b, "bkey")
        .where((F.col("a_band") == F.col("band")) & (F.col("a_id") < F.col("b_id")))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _jaccard_verify(cand, base)


VAL_SPLIT_MOD = 10  # ~10% of docs land in the held-out split


def q_x_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split-leakage audit: deterministic ~1/VAL_SPLIT_MOD
    hash split of the corpus, then MinHash-LSH candidate pairs that
    CROSS the split, verified with exact Jaccard — the near-dup
    contamination check a training pipeline runs before trusting its
    eval numbers. Complements q_text_decontam (which screens against a
    FOREIGN benchmark's n-grams): this audits the corpus's own split,
    where random assignment happily separates two crawls of the same
    page into train and val.

    Scale shape identical to q_dedup_minhash_pairs: map-only
    signatures + split flag, band-key equi-join restricted to
    val-x-train pairs (never val-val/train-train, never all-pairs),
    row-local verify on the surviving candidates only.
    """
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < PAIR_SAMPLE_DOCS
    )
    return split_leakage_pairs(d)


def split_leakage_pairs(d: DataFrame) -> DataFrame:
    """(val_id, train_id, jacc) — cross-split LSH near-dup pairs of a
    (doc_id, text) corpus. See :func:`q_x_split_leakage`."""
    base = _shingle_base(d)
    sig = base.select("doc_id", *_signature_exprs())
    is_val = (
        md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % VAL_SPLIT_MOD
        == 0
    )
    bands = sig.select(
        "doc_id",
        is_val.alias("is_val"),
        F.posexplode(_band_keys()).alias("band", "bkey"),
    )
    v = bands.where(F.col("is_val")).select(
        F.col("doc_id").alias("a_id"), "band", "bkey"
    )
    t = bands.where(~F.col("is_val")).select(
        F.col("doc_id").alias("b_id"), "band", "bkey"
    )
    cand = v.join(t, ["band", "bkey"]).dropDuplicates(["a_id", "b_id"])
    return _jaccard_verify(cand, base).select(
        F.col("a_id").alias("val_id"),
        F.col("b_id").alias("train_id"),
        "jacc",
    ).orderBy("val_id", "train_id")


def dedup_rate_report(docs: DataFrame) -> DataFrame:
    """Per-source exact-duplicate rate — the dedup QA dashboard row:
    how much of each source is redundant BEFORE spending on the
    near-dup pass (a source with a high exact-dup rate usually has a
    crawler/ingest bug). One md5 fingerprint projection and two
    map-side-combined aggregates; rate in exact integer basis points
    (no float division anywhere — the grid-average lesson from the
    curation mean_quality fix). Expects (source, text) columns.
    """
    fp = docs.where(F.col("text").isNotNull()).select(
        "source", md5_long(normalize_text(F.col("text"))).alias("fp")
    )
    per_group = fp.groupBy("source", "fp").agg(F.count("*").alias("n"))
    return (
        per_group.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            (F.sum("n") - F.count("*")).alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.expr("(2 * n_dups * 10000 + n_docs) div (2 * n_docs)").alias(
                "dup_bps"
            ),
        )
        .orderBy("source")
    )


def q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry over the documents table (which happens to carry
    zero exact dups — the report correctly says so; the positive-rate
    behavior is pinned on a synthetic corpus in tests/test_llm_ops.py)."""
    return dedup_rate_report(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LSH parameter tuning report (bands x rows sweep over one signature set)
# ---------------------------------------------------------------------------
LSH_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
LSH_TUNE_JACC = 0.2  # "true pair" threshold for the precision/recall readout


def lsh_tuning_report(d: DataFrame) -> DataFrame:
    """(bands, rows, n_candidates, n_true_found, n_true_total,
    precision_bps, recall_bps) — the banding-parameter sweep every LSH
    deployment needs: the SAME 16 minhash values re-banded as 16x1,
    8x2, 4x4 and 2x8, each config's candidate set counted and verified
    against exact Jaccard >= LSH_TUNE_JACC. More rows per band raises
    the collision bar (precision up, recall down); this table is how
    you pick the operating point BEFORE burning a corpus-scale pass on
    the wrong one.

    Cost shape: the signature table is computed once (map-only) and
    checkpointed; each config adds one narrow band-key self-join over
    it — the sweep is 4 bucketed joins on a BOUNDED sample
    (PAIR_SAMPLE_DOCS), never all-pairs. The ground-truth pair set is
    the one all-pairs join, bounded by the same sample contract as
    q_dedup_embcos (documented bounded oracle sample).
    """
    base = _shingle_base(d).localCheckpoint(eager=False)
    sigs = base.select("doc_id", *_signature_exprs()).localCheckpoint(
        eager=False
    )
    # exact ground truth on the bounded sample (all-pairs, by contract)
    sets = base.select("doc_id", F.size("shs").alias("n_sh"), "shs")
    a = sets.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"),
        F.col("shs").alias("shs_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"),
        F.col("shs").alias("shs_b"),
    )
    common = F.size(F.array_intersect("shs_a", "shs_b"))
    jacc = common / (F.col("n_a") + F.col("n_b") - common)
    truth = (
        a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .where(jacc >= LSH_TUNE_JACC)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    per_config = []
    for bands, rows in LSH_TUNE_CONFIGS:
        bt = sigs.select(
            "doc_id", F.posexplode(band_keys_for(bands, rows)).alias("band", "bkey")
        )
        ca = bt.select(F.col("doc_id").alias("a_id"), "band", "bkey")
        cb = bt.select(F.col("doc_id").alias("b_id"), "band", "bkey")
        cand = (
            ca.join(cb, ["band", "bkey"])
            .where(F.col("a_id") < F.col("b_id"))
            .dropDuplicates(["a_id", "b_id"])
        )
        found = cand.join(truth, ["a_id", "b_id"], "left_semi")
        stats = cand.agg(F.count("*").alias("n_candidates")).crossJoin(
            F.broadcast(found.agg(F.count("*").alias("n_true_found")))
        )
        per_config.append(
            stats.select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows"),
                F.col("n_candidates").cast("long"),
                F.col("n_true_found").cast("long"),
            )
        )
    swept = per_config[0]
    for p in per_config[1:]:
        swept = swept.unionByName(p)
    total = truth.agg(F.count("*").alias("n_true_total"))
    return swept.crossJoin(F.broadcast(total)).select(
        "bands",
        "rows",
        "n_candidates",
        "n_true_found",
        F.col("n_true_total").cast("long").alias("n_true_total"),
        F.expr(
            "CAST(CASE WHEN n_candidates = 0 THEN 0 ELSE"
            " (2 * n_true_found * 10000 + n_candidates)"
            " div (2 * n_candidates) END AS BIGINT)"
        ).alias("precision_bps"),
        F.expr(
            "CAST(CASE WHEN n_true_total = 0 THEN 0 ELSE"
            " (2 * n_true_found * 10000 + n_true_total)"
            " div (2 * n_true_total) END AS BIGINT)"
        ).alias("recall_bps"),
    )


def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") < PAIR_SAMPLE_DOCS
    )
    return lsh_tuning_report(d).orderBy("rows")


LSH_TARGET_RECALL_BPS = 9000  # default banding target: 90% recall @ tune jacc


def pick_lsh_config(
    report: DataFrame, target_recall_bps: int = LSH_TARGET_RECALL_BPS
) -> tuple[int, int]:
    """Cheapest (bands, rows) from a :func:`lsh_tuning_report` meeting
    the recall target — the consumer that turns the sweep from a
    dashboard into a knob (VERDICT r6 #3).

    Deterministic total order, mirrored verbatim in the autoconfig
    oracle SQL: configs meeting the target sort first, cheapest
    (fewest candidate pairs, then fewest bands) wins; if NO config
    meets the target, fall back to the highest-recall config (then
    cheapest). The collect is the 4-row sweep — bounded by
    LSH_TUNE_CONFIGS, not by data size.
    """
    rows = report.select("bands", "rows", "n_candidates", "recall_bps").collect()

    def order_key(r):
        elig = r["recall_bps"] >= target_recall_bps
        return (
            0 if elig else 1,
            r["n_candidates"] if elig else 0,
            0 if elig else -r["recall_bps"],
            r["n_candidates"],
            r["bands"],
        )

    best = min(rows, key=order_key)
    return int(best["bands"]), int(best["rows"])


def minhash_band_pairs(
    d: DataFrame,
    config: tuple[int, int] | None = None,
    target_recall_bps: int = LSH_TARGET_RECALL_BPS,
) -> DataFrame:
    """LSH candidate pairs + exact-Jaccard verify under an explicit
    (bands, rows) banding config. ``config=None`` (the default) runs
    the tuning sweep on ``d`` and picks the cheapest config meeting
    ``target_recall_bps`` via :func:`pick_lsh_config` — banding is
    chosen by measured recall, not hardcoded. Production shape: tune
    once on a bounded sample, then pass the chosen config explicitly
    for the full-corpus pass (the sweep's ground-truth stage is
    sample-bounded by contract)."""
    if config is None:
        config = pick_lsh_config(lsh_tuning_report(d), target_recall_bps)
    bands, rows = config
    base = _shingle_base(d)
    sigs = base.select("doc_id", *_signature_exprs())
    bt = sigs.select(
        "doc_id", F.posexplode(band_keys_for(bands, rows)).alias("band", "bkey")
    )
    a = bt.select(F.col("doc_id").alias("a_id"), "band", "bkey")
    b = bt.select(F.col("doc_id").alias("b_id"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _jaccard_verify(cand, base)


def q_dedup_lsh_autoconfig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the banding config the sweep-driven picker selects at
    the default recall target, with its measured cost/recall — the
    decision itself is the oracle-checked artifact (the oracle replays
    sweep + the same ORDER BY ... LIMIT 1)."""
    d = fan_out(load_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") < PAIR_SAMPLE_DOCS
    )
    rep = lsh_tuning_report(d).localCheckpoint(eager=False)
    bands, rows = pick_lsh_config(rep)
    return rep.where(
        (F.col("bands") == bands) & (F.col("rows") == rows)
    ).select(
        F.lit(LSH_TARGET_RECALL_BPS).cast("long").alias("target_recall_bps"),
        "bands",
        "rows",
        "n_candidates",
        "recall_bps",
    )


# ---------------------------------------------------------------------------
# winnowing-index near-dedup (VERDICT r6 #8): the MOSS fingerprint index as
# the candidate generator for the clean-corpus pipeline
# ---------------------------------------------------------------------------

WINNOW_SURV_DOCS = PAIR_SAMPLE_DOCS  # the wider dedup sample bound —
# sf0.01's near-dups live above doc 100, so this bound exercises the
# verify -> cluster -> drop path end-to-end in the driver gate
WINNOW_MIN_SHARED = 2    # candidate gate: pairs sharing >= 2 fingerprints


def winnow_survivors(
    docs: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    max_posting: int | None = None,
) -> DataFrame:
    """Near-dedup with the WINNOWING index as the candidate generator:
    posting-capped winnow fingerprint pairs -> exact word-shingle
    Jaccard verify -> transitive clustering -> surviving doc_ids.

    The alternative candidate generator to MinHash-LSH banding
    (:func:`q_dedup_survivors`) when long verbatim matches must never
    be missed: LSH recall is probabilistic in the Jaccard, while
    winnowing guarantees (Schleimer et al. 2003) that any substring
    match of length >= w + k - 1 shares a selected fingerprint — at
    ~2/(w+1) of gram volume for the index. Scale shape is the same
    bucket-then-verify discipline as every other dedup family here:
    candidates come from an equi-join on the fingerprint key with a
    per-key posting cap (never all-pairs), verification shuffles
    |candidates| rows, and clustering is hash-min pointer jumping on
    the verified edge list.
    """
    from bigdatagenomic_spark.operators.text import (
        WINNOW_MAX_POSTING,
        winnow_pairs,
    )

    if max_posting is None:
        max_posting = WINNOW_MAX_POSTING
    cand = (
        winnow_pairs(docs, max_posting)
        .where(F.col("n_shared") >= min_shared)
        .select("a_id", "b_id")
    )
    verified = _jaccard_verify(cand, _shingle_base(docs)).where(
        F.col("jacc") >= JACCARD_THRESHOLD
    )
    return near_dup_survivors(docs.select("doc_id"), verified)


def q_dedup_winnow_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") < WINNOW_SURV_DOCS
    )
    return winnow_survivors(d).orderBy("doc_id")


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup, Abbas et al. 2023): embedding k-means blocking
# -> within-cluster cosine near-dup pairs -> survivorship
# ---------------------------------------------------------------------------

SEM_K_MIN = 8          # floor on blocking clusters (small-corpus regime)
SEM_TARGET_BLOCK = 128  # target vectors per blocking cluster
SEM_ITER = 2     # fixed Lloyd's iterations (deterministic, oracle-unrolled)
SEM_ROUND = 6    # centroid quantization decimals (cross-engine ulp guard)


def sem_k_for(
    n: int, target_block: int = SEM_TARGET_BLOCK, k_min: int = SEM_K_MIN
) -> int:
    """Blocking-cluster count as a DETERMINISTIC function of corpus
    size: k = max(k_min, ceil(n / target_block)). Within-cluster
    pairing is O(block^2) per block, so holding the EXPECTED block
    size constant keeps total pair work ~O(n * target_block) as the
    corpus grows — a fixed k would be corpus-quadratic/k (VERDICT r7
    item 2). Deterministic-in-n so the DuckDB oracle can replay the
    same k from the same count (queries.py _semantic_oracle_sql
    computes it inside the seeding LIMIT)."""
    return max(k_min, -(-n // target_block))


def semantic_survivors(
    vectors: DataFrame,
    k: int | None = None,
    n_iter: int = SEM_ITER,
    threshold: float = COSINE_DUP_THRESHOLD,
    target_block: int = SEM_TARGET_BLOCK,
) -> DataFrame:
    """(vec_id, cluster) — SemDeDup-style semantic dedup over an
    embedding table: deterministic k-means assigns every vector to a
    blocking cluster, cosine runs only WITHIN clusters (the SemDeDup
    trade: k grows with the corpus so block sizes stay bounded and the
    pair step never goes corpus-quadratic), pairs at/above ``threshold``
    cluster transitively, and the lowest vec_id per group survives.

    When ``k`` is None (the default) it is DERIVED from the corpus:
    k = sem_k_for(count(vectors)) — one bounded 1-row count job on the
    driver (the same bounded-collect class as the LSH autoconfig
    sweep), so the expected block size stays ~``target_block`` at any
    corpus scale instead of going corpus-quadratic at a fixed k.

    Same bucket-then-verify scale shape as every dedup family here: the
    k-means stages are one scan + a K*dims-row shuffle per iteration
    (clustering.kmeans), the pair stage is an equi-join on the cluster
    key, and survivorship is hash-min CC on the near-dup edges.
    Centroids are quantized per update (``SEM_ROUND``) so a replayed
    oracle cannot diverge in the argmin at the last ulp.
    """
    from bigdatagenomic_spark.functions import dot
    from bigdatagenomic_spark.operators.clustering import kmeans

    if k is None:
        k = sem_k_for(vectors.count(), target_block)
    assigned, _ = kmeans(
        vectors, k=k, n_iter=n_iter, round_decimals=SEM_ROUND
    )
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    en = vectors.select("vec_id", emb_d.alias("v")).withColumn(
        "n", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    memb = (
        assigned.select("vec_id", "cluster")
        .join(en, "vec_id")
        .localCheckpoint(eager=False)  # 3 consumers; never replay kmeans
    )
    a = memb.select(
        "cluster", F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = memb.select(
        "cluster", F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    pairs = (
        a.join(b, "cluster")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )
    from bigdatagenomic_spark.operators.graph import connected_components

    comp = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    drop = (
        comp.join(
            comp.groupBy("component").agg(F.min("id").alias("keep_id")),
            comp["id"] == F.col("keep_id"),
            "left_anti",
        )
        .select(F.col("id").alias("vec_id"))
    )
    return memb.select("vec_id", "cluster").join(drop, "vec_id", "left_anti")


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_survivors(
        fan_out(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# edit-distance verification of shingle candidates (round 11)
# ---------------------------------------------------------------------------

EDIST_MAX_CHARS = 400        # per-pair DP cost bound: O(len_a * len_b)
EDIST_MIN_SIM_MICRO = 500000  # keep pairs at >= 0.5 normalized similarity


def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: word-3-gram shingle
    candidates -> exact Levenshtein distance -> normalized similarity
    (maxlen - dist) / maxlen. The CHARACTER-EDIT view of duplication
    that token-set Jaccard is blind to (small insertions/typo edits
    move Jaccard a lot but edit distance a little, and vice versa for
    token reorderings) — the standard second opinion before dropping a
    "duplicate" that survived LSH banding.

    Scale shape: the same bucket-then-verify discipline as every dedup
    family here — candidates are an equi-join on the shingle key, never
    all-pairs; Levenshtein's O(len_a*len_b) DP runs per CANDIDATE pair
    only, JVM-side (F.levenshtein inside codegen, no Python), and only
    on docs <= EDIST_MAX_CHARS by contract (the n_chars predicate is a
    pushed-down scan filter; long docs belong to the shingle/winnow
    families). sim_micro is integer-exact; maxlen >= 1 because a
    shingle candidate implies a nonempty text.
    """
    d = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < PAIR_SAMPLE_DOCS)
        & F.col("text").isNotNull()
        & (F.col("n_chars") <= EDIST_MAX_CHARS)
    )
    sh = _doc_shingles(d)
    a = sh.select(F.col("doc_id").alias("a_id"), "sh")
    b = sh.select(F.col("doc_id").alias("b_id"), "sh")
    cand = (
        a.join(b, "sh")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    ta = d.select(F.col("doc_id").alias("a_id"), F.col("text").alias("_ta"))
    tb = d.select(F.col("doc_id").alias("b_id"), F.col("text").alias("_tb"))
    scored = (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.levenshtein("_ta", "_tb").cast("long").alias("editdist"),
            F.greatest(F.length("_ta"), F.length("_tb"))
            .cast("long")
            .alias("_ml"),
        )
        .withColumn(
            "sim_micro",
            F.expr("(_ml - editdist) * 1000000 div _ml").cast("long"),
        )
    )
    return (
        scored.where(F.col("sim_micro") >= EDIST_MIN_SIM_MICRO)
        .select("a_id", "b_id", "editdist", "sim_micro")
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch: per-source distinct estimates + pairwise
# set Jaccard (round 11, session 2)
# ---------------------------------------------------------------------------

KMV_K = 128
KMV_BUCKETS = 32
# md5_long yields 60-bit values: estimator scale M = 2^60
KMV_M = 1 << 60


def q_dedup_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch over each source's
    word-3-gram shingle SET: per source the 128 smallest distinct
    60-bit shingle hashes, giving (a) a distinct-shingle cardinality
    estimate D-hat = (k-1) * 2^60 div h_(k) (Bar-Yossef et al. 2002)
    and (b) for every source pair the bottom-k set-Jaccard estimate
    |A cap B cap U| / |U| with U the k smallest of the UNION of the two
    sketches (Broder 1997's min-wise resemblance in its mergeable
    bottom-k form) — the corpus-level dual of the per-document MinHash
    family above: MinHash asks "which DOCUMENTS are near-dups", KMV
    asks "how much do two CRAWL SOURCES overlap" without ever holding
    either shingle set whole.

    Deterministic: the hash is the shared md5_long family, the sketch
    is an order statistic of it, and both estimates are integer
    divisions on DECIMAL(38,0)/HUGEINT — hash-gate friendly.

    Plan shape (the scale argument): ONE distinct-aggregate shuffle on
    (source, hash) — the only stage that touches the corpus — then the
    bottom-k runs TWO-PHASE like two_phase_rank: row_number within
    (source, hash mod 32) keeps each sort partition at 1/32nd of a
    source's distinct set, and the second row_number sorts only the
    32*k bounded survivors. Everything after (pair expansion, union
    rank, flags) operates on <= 4*k rows and broadcasts. A single
    window over the whole source would serialize each source through
    one reducer at 100 TB; the bucketed first phase is what removes
    that bottleneck.
    """
    from pyspark.sql.window import Window

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # drop the '' artifact shingle of zero-token docs (Spark's concat_ws
    # over an all-null window emits '' where DuckDB's array_to_string
    # emits NULL — excluded in both engines so the SET semantics agree)
    sh = (
        d.where(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(word_shingles(tokens(F.col("text")), 3)).alias("s"),
        )
        .where(F.col("s") != "")
    )
    hs = sh.select("source", md5_long(F.col("s")).alias("h")).distinct()
    w1 = Window.partitionBy("source", F.pmod("h", F.lit(KMV_BUCKETS))).orderBy(
        "h"
    )
    w2 = Window.partitionBy("source").orderBy("h")
    sk = (
        hs.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= KMV_K)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= KMV_K)
        .select("source", "h", "rn")
        # materialize the <= |sources|*k-row sketch ONCE: it feeds the
        # per-source estimates AND both sides of the pair expansion, and
        # without the checkpoint each reference replays the full
        # corpus-scan + distinct + two-phase bottom-k subtree (observed
        # as 3 parquet scans in the static plan)
        .localCheckpoint()
    )
    per_src = sk.groupBy("source").agg(
        F.count("*").cast("long").alias("k_used"),
        F.max("h").alias("h_k"),
    ).select(
        "source",
        "k_used",
        F.when(
            F.col("k_used") < KMV_K, F.col("k_used")
        )
        .otherwise(
            F.expr(
                f"CAST(CAST({KMV_K - 1} AS DECIMAL(38,0)) * {KMV_M}"
                "     div h_k AS BIGINT)"
            )
        )
        .alias("est_distinct"),
    )
    srcs = per_src.select("source")
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .where(F.col("source_a") < F.col("source_b"))
    )
    rows = pairs.join(
        F.broadcast(sk),
        (F.col("source") == F.col("source_a"))
        | (F.col("source") == F.col("source_b")),
    )
    cell = rows.groupBy("source_a", "source_b", "h").agg(
        F.max((F.col("source") == F.col("source_a")).cast("int")).alias("in_a"),
        F.max((F.col("source") == F.col("source_b")).cast("int")).alias("in_b"),
    )
    wu = Window.partitionBy("source_a", "source_b").orderBy("h")
    union_k = (
        cell.withColumn("urn", F.row_number().over(wu))
        .where(F.col("urn") <= KMV_K)
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("union_k"),
            F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias(
                "n_common"
            ),
        )
    )
    ea = per_src.select(
        F.col("source").alias("source_a"),
        F.col("est_distinct").alias("est_distinct_a"),
    )
    eb = per_src.select(
        F.col("source").alias("source_b"),
        F.col("est_distinct").alias("est_distinct_b"),
    )
    return (
        union_k.join(F.broadcast(ea), "source_a")
        .join(F.broadcast(eb), "source_b")
        .select(
            "source_a",
            "source_b",
            "est_distinct_a",
            "est_distinct_b",
            "union_k",
            "n_common",
            F.expr("n_common * 1000000L div union_k").alias("jacc_micro"),
        )
        .orderBy("source_a", "source_b")
    )


Q_DEDUP_KMV_SQL = f"""
WITH tok AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(t[i:i+2], ' ')))) AS s
  FROM tok
), hs AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM sh WHERE s IS NOT NULL AND s <> ''
), r1 AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source, h % {KMV_BUCKETS}
                            ORDER BY h) AS rn1
  FROM hs
), sk AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM r1 WHERE rn1 <= {KMV_K}
  QUALIFY rn <= {KMV_K}
), per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS k_used,
         max(h) AS h_k
  FROM sk GROUP BY source
), est AS (
  SELECT source, k_used,
         CASE WHEN k_used < {KMV_K} THEN k_used
              ELSE CAST(CAST({KMV_K - 1} AS HUGEINT) * {KMV_M}
                        // h_k AS BIGINT) END AS est_distinct
  FROM per_src
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM est a, est b WHERE a.source < b.source
), cell AS (
  SELECT p.source_a, p.source_b, sk.h,
         max(CASE WHEN sk.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN sk.source = p.source_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk
    ON sk.source = p.source_a OR sk.source = p.source_b
  GROUP BY 1, 2, 3
), u AS (
  SELECT source_a, source_b, in_a, in_b,
         row_number() OVER (PARTITION BY source_a, source_b
                            ORDER BY h) AS urn
  FROM cell
), agg AS (
  SELECT source_a, source_b,
         CAST(count(*) AS BIGINT) AS union_k,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_common
  FROM u WHERE urn <= {KMV_K}
  GROUP BY 1, 2
)
SELECT g.source_a, g.source_b,
       ea.est_distinct AS est_distinct_a,
       eb.est_distinct AS est_distinct_b,
       g.union_k, g.n_common,
       CAST(g.n_common * 1000000 // g.union_k AS BIGINT) AS jacc_micro
FROM agg g
JOIN est ea ON ea.source = g.source_a
JOIN est eb ON eb.source = g.source_b
ORDER BY g.source_a, g.source_b
"""
