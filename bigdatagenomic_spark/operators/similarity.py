"""Similarity search over the ``embeddings`` table (north star;
SURVEY.md §2.B Q26 — no reference counterpart, SURVEY.md §0).

* ``q26_cosine_topk`` — exact brute-force top-k cosine for a bounded
  query set, as pure Catalyst expressions (zip_with dot product, window
  top-k). Deterministic -> DuckDB hash-checked. This is the baseline
  every ANN variant is measured against.
* ``q_sim_lsh_topk`` — the scale path: random-hyperplane LSH (signed
  projections onto deterministic pseudo-random hyperplanes) bucketing
  candidates, exact cosine re-ranking inside buckets. Approximate only
  vs the exact top-k — the pipeline itself is deterministic, so it
  hash-checks against a DuckDB replay (and tests measure recall).

Scale notes: brute force is O(Q x N) — fine for Q small (it broadcasts
the query set), unusable for all-pairs at 100 TB. The LSH plan shuffles
on bucket signature, so each query compares against its bucket only;
recall/cost trades via n_planes. The hyperplanes are derived from
md5(vec-slot) hashes, not an RNG, so the plan is reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import cosine
from bigdatagenomic_spark.sources.local import local_frame
from bigdatagenomic_spark.sources.tables import fan_out, load_table

N_QUERIES = 8
TOP_K = 5


def _vecs(spark, sf_dir, fanned: bool = True):
    e = load_table(spark, sf_dir, "embeddings")
    # fan_out pays off when the consumer does per-row vector math
    # (sq_topk A/B: 0.56 vs 0.96 s); the pure map-only projections
    # (emb_normalize A/B: 0.62 vs 0.40 s) skip it - the round-robin
    # exchange of the raw vectors costs more than 1-task folds.
    if fanned:
        e = fan_out(e)
    return e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def cosine_topk(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).

    Norms are computed once per side BEFORE the cross join — inside the
    join the per-pair work is one dot product, not three (with Q queries
    that saves 2·Q array folds per candidate row; identical floating
    result, the norm is the same expression either way).
    """
    from bigdatagenomic_spark.functions import dot

    def norm(v):
        return F.sqrt(dot(v, v))

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
    )
    c = candidates.select(
        F.col("vec_id"), F.col("v").alias("cv"), norm(F.col("v")).alias("cn")
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    )


def q26_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanned=False (round 15, quiet-host interleaved A/B: OFF 0.572 s
    # vs ON 0.586 s — the VERDICT r14 re-adjudication of the kept
    # wash): the broadcast-side filter collapses queries to N_QUERIES
    # rows and the candidate side is one dot product per row, under
    # the per-row-compute break-even for the exchange
    vecs = _vecs(spark, sf_dir, fanned=False)
    return cosine_topk(vecs.where(F.col("vec_id") < N_QUERIES), vecs)


# ---------------------------------------------------------------------------
# LSH variant (approximate vs exact top-k; deterministic -> hash-checked)
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — no RNG state."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"plane{plane}:{i}".encode()).digest()
        vals.append((int.from_bytes(h[:8], "big") / 2**63) - 1.0)
    return vals


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    k: int = TOP_K,
) -> DataFrame:
    """Random-hyperplane LSH: sign-signature bucket join + exact re-rank."""

    def signature(vcol):
        sig = None
        for p in range(n_planes):
            plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p)])
            proj = F.aggregate(
                F.zip_with(vcol, plane, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit = F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        return sig.cast("long")

    from bigdatagenomic_spark.functions import dot

    def norm(v):
        return F.sqrt(dot(v, v))

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
        signature(F.col("v")).alias("sig"),
    )
    c = candidates.select(
        "vec_id",
        F.col("v").alias("cv"),
        norm(F.col("v")).alias("cn"),
        signature(F.col("v")).alias("sig"),
    )
    sims = (
        q.join(c, "sig")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    )


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    return lsh_bucketed_topk(vecs.where(F.col("vec_id") < N_QUERIES), vecs)


# ---------------------------------------------------------------------------
# IVF variant (approximate vs exact, deterministic -> hash-checked): the
# other classic ANN
# scale path — coarse-quantize into centroid buckets, probe a few buckets
# per query, numpy-score candidates per query group (applyInPandas)
# ---------------------------------------------------------------------------

N_CENTROIDS = 16
N_PROBE = 4
PQ_ITER = 2     # Lloyd rounds for coarse-centroid / PQ-codebook training
PQ_ROUND = 6    # centroid quantization decimals (cross-engine determinism)


def _kmeans_ctes(tag: str, lo: int, width: int, k: int, n_iter: int) -> list[str]:
    """Generic CTE text replaying a deterministic Lloyd's k-means over
    the dimension slice ``e[lo+1 : lo+width]`` of CTE ``v``: lowest-id
    init, argmin ties to the lowest cluster, half-up 1e-6 centroid
    quantization after every update (matching
    ``kmeans(round_decimals=6)``). Emits a final centroid table
    ``c{tag}_{n_iter}(cluster, centroid)``."""
    parts = [
        f"sub{tag} AS (SELECT vec_id, e[{lo + 1}:{lo + width}] AS x FROM v)",
        f"c{tag}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1"
        f" AS INT) AS cluster, x AS centroid FROM (SELECT vec_id, x"
        f" FROM sub{tag} ORDER BY vec_id LIMIT {k}))",
    ]
    d2 = (
        f"list_sum(list_transform(range(1, {width + 1}), "
        "j -> (s.x[j] - c.centroid[j]) * (s.x[j] - c.centroid[j])))"
    )
    for it in range(1, n_iter + 1):
        parts.append(f"""a{tag}_{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM (SELECT s.vec_id, c.cluster, {d2} AS dist
          FROM sub{tag} s CROSS JOIN c{tag}_{it - 1} c))
  WHERE rn = 1)""")
        parts.append(f"""c{tag}_{it} AS (
  SELECT cluster, list(mu ORDER BY dim) AS centroid FROM (
    SELECT a.cluster, t.dim,
           floor(avg(s.x[t.dim]) * 1000000 + 0.5) / 1000000 AS mu
    FROM a{tag}_{it} a JOIN sub{tag} s USING (vec_id)
    CROSS JOIN (SELECT unnest(range(1, {width + 1})) AS dim) t
    GROUP BY a.cluster, t.dim)
  GROUP BY cluster)""")
    return parts


def _ivf_centroids(candidates: DataFrame, n_centroids: int = N_CENTROIDS):
    """Deterministic coarse centroids: the n_centroids lowest-id vectors
    (the un-trained baseline; :func:`ivf_centroids_kmeans` is the
    trained production table — the plan is identical either way),
    broadcast to every executor."""
    return F.broadcast(
        candidates.orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("cvec"))
    )


def ivf_centroids_kmeans(
    candidates: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_iter: int = PQ_ITER,
):
    """k-means-trained coarse centroids for the IVF family — the same
    deterministic quantized Lloyd's as the PQ codebook (lowest-id init,
    fixed rounds, 1e-6 centroid quantization), over the FULL dimension.
    Training assigns by L2; query-time list assignment stays cosine —
    the centroids are just points, the metric belongs to the index.
    Returns a broadcast (centroid_id, cvec) table; list ids are the
    k-means cluster ids."""
    cbs = _train_joint_lit(
        candidates,
        [(0, PQ_M * PQ_SUBDIM)],
        k=n_centroids,
        n_iter=n_iter,
        round_decimals=PQ_ROUND,
    )
    return F.broadcast(_centroid_table(candidates.sparkSession, cbs[0]))


def _centroid_table(spark: SparkSession, cents: list[tuple[int, list[float]]]):
    """(centroid_id, cvec) DataFrame from a driver-side centroid list —
    a local relation, so downstream collects/broadcasts of it are
    cluster-job-free."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("centroid_id", LongType(), False),
            StructField("cvec", ArrayType(DoubleType()), False),
        ]
    )
    return local_frame(spark, [(int(c), v) for c, v in cents], schema)


def _ivf_assign(candidates: DataFrame, cent: DataFrame) -> DataFrame:
    """Index build: every vector -> its nearest centroid by cosine
    (ties: lowest centroid id). Broadcast cross join + max_by — no
    shuffle of the big side; the ONE shuffle is the groupBy(vec_id),
    and that IS the IVF list build."""
    return (
        candidates.crossJoin(cent)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    cosine(F.col("v"), F.col("cvec")).alias("sim"),
                    (-F.col("centroid_id")).alias("tb"),
                ),
            ).alias("centroid_id"),
            F.first("v").alias("v"),
        )
    )


def _ivf_assign_lit(
    candidates: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Index build against DRIVER-SIDE centroids: every vector -> its
    nearest centroid by cosine (ties: lowest centroid id), as a pure
    MAP over a literal similarity array — no crossJoin, no
    groupBy(vec_id) shuffle of the vector payloads (round 15, guide
    §2.4). Same floats as _ivf_assign: the identical cosine() fold
    against the identical centroid doubles; argmax ties break to the
    FIRST array position = the lowest centroid id, matching
    max_by(centroid_id, struct(sim, -centroid_id))."""

    sims = F.transform(
        _lit_mat([v for _, v in cents]), lambda c: cosine(F.col("_v"), c)
    )
    ids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    return (
        candidates.select("vec_id", F.col("v").alias("_v"))
        .select("vec_id", "_v", sims.alias("_s"))
        .select(
            "vec_id",
            F.element_at(
                ids, F.array_position(F.col("_s"), F.array_max("_s")).cast("int")
            ).cast("long").alias("centroid_id"),
            F.col("_v").alias("v"),
        )
    )


def _ivf_probes(queries: DataFrame, cent: DataFrame, n_probe: int = N_PROBE) -> DataFrame:
    """Per query: its n_probe nearest centroids -> (query_id, qv,
    centroid_id). Bounded rows (|queries| x n_probe)."""
    wq = W.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("centroid_id"))
    return (
        queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .crossJoin(cent)
        .select(
            "query_id",
            "qv",
            "centroid_id",
            cosine(F.col("qv"), F.col("cvec")).alias("csim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qv", "centroid_id")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    k: int = TOP_K,
    cent: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed ANN: nearest-centroid assignment, n_probe bucket scan.

    Centroids are the n_centroids lowest-id vectors (deterministic;
    production would run k-means — the plan is identical, only the
    centroid table changes). Assignment and probing are JVM-side
    broadcast joins; only the final per-query candidate scoring drops
    into Python, as a grouped-map ``applyInPandas`` whose numpy matmul
    scores a whole candidate set per Arrow batch — the vectorized-kernel
    pattern for when per-row higher-order functions become the
    bottleneck.

    At scale: the assignment shuffles once on centroid_id (that IS the
    IVF index build); each query then touches n_probe/n_centroids of the
    data instead of all of it. (Round 15 tried the literal list-assign
    here — the q_sim_ivfpq_topk device — and it measured WORSE in this
    non-fused context: 4.48 vs 4.11 s interleaved at sf0.1; the 16x
    64-dim literal cosine map per candidate costs more than the
    broadcast-join argmax it replaces when the scoring exchange still
    has to carry the vectors anyway. Reverted.)
    """
    import numpy as np
    import pandas as pd

    if cent is None:
        cent = _ivf_centroids(candidates, n_centroids)
    assigned = _ivf_assign(candidates, cent)
    probes = _ivf_probes(queries, cent, n_probe)

    cand = (
        probes.join(assigned, "centroid_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", "vec_id", "v")
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        qv = np.asarray(pdf["qv"].iloc[0], dtype=np.float64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        sims = np.round(
            (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv)), 4
        )
        vec_ids = pdf["vec_id"].to_numpy()
        top = np.lexsort((vec_ids, -sims))[:k]
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "vec_id": vec_ids[top],
                "sim": sims[top],
                "rn": np.arange(1, len(top) + 1, dtype=np.int32),
            }
        )

    return (
        cand.groupBy("query_id")
        .applyInPandas(score, "query_id BIGINT, vec_id BIGINT, sim DOUBLE, rn INT")
        .orderBy("query_id", "rn")
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin the vector table: centroid training, assignment, and probes
    # all reference it (each would otherwise re-scan the source)
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=False)
    return ivf_topk(
        vecs.where(F.col("vec_id") < N_QUERIES),
        vecs,
        cent=ivf_centroids_kmeans(vecs),
    )


# --------------------------------------------------------------------------
# embedding preprocessing: L2 normalization + int8 scalar quantization
# --------------------------------------------------------------------------
def q_x_emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize every embedding (the precompute that turns cosine
    into a plain dot product for every op downstream). Pure array
    expressions — the fold and transform run inside codegen, no Python,
    no shuffle: a narrow map-only stage at any scale.

    Output encoding: the unit vector is emitted as a comma-joined string
    of micro-unit BIGINTs (component * 1e6, half-up). The correctness
    driver canonicalizes results through pandas, where raw list columns
    are unsortable/unhashable; integers cast to identical strings on both
    engines, so the whole vector stays hash-checkable."""
    e = _vecs(spark, sf_dir, fanned=False)
    norm = F.sqrt(
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # raw norm keeps its own name: aliasing the rounded value to the same
    # name would make the transform below divide by the ROUNDED norm
    out = e.withColumn("_nrm", norm)

    # floor(x*1e6+0.5) on BOTH engines: identical double arithmetic,
    # so half-way cases can't disagree the way native round() does
    def micro(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint")

    return out.select(
        "vec_id",
        (micro(F.col("_nrm")) / 1000000).alias("l2_norm"),
        F.array_join(
            F.transform(
                "v",
                lambda x: micro(F.try_divide(x, F.col("_nrm"))).cast("string"),
            ),
            ",",
        ).alias("unit_vec_micro"),
    ).orderBy("vec_id")


Q_X_EMB_NORMALIZE_SQL = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS nrm
  FROM embeddings
)
SELECT vec_id,
       CAST(floor(nrm * 1000000 + 0.5) AS BIGINT) / 1000000 AS l2_norm,
       array_to_string(
         list_transform(v, x -> CAST(floor(x / nrm * 1000000 + 0.5)
                                     AS BIGINT)), ',') AS unit_vec_micro
FROM n ORDER BY vec_id
"""


def q_x_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector max-abs int8 quantization (the 4x memory cut before
    ANN serving): scale = 127/max|x|, stored with the scale so the dot
    product can be de-quantized. Map-only, codegen-side, no shuffle."""
    e = _vecs(spark, sf_dir)
    max_abs = F.array_max(F.transform("v", F.abs))
    out = e.withColumn("_ma", max_abs)
    # qvec as a comma-joined string of int8 codes: the driver's pandas
    # canonicalizer can't sort raw list columns (see q_x_emb_normalize);
    # integer-to-string casts agree exactly across engines. Half-up via
    # floor(x+0.5) — banker's-rounding-free, identical in both engines.
    return out.select(
        "vec_id",
        F.round(F.col("_ma"), 6).alias("max_abs"),
        F.array_join(
            F.transform(
                "v",
                lambda x: F.floor(
                    F.try_divide(x * 127.0, F.col("_ma")) + F.lit(0.5)
                )
                .cast("int")
                .cast("string"),
            ),
            ",",
        ).alias("qvec"),
    ).orderBy("vec_id")


Q_X_EMB_QUANTIZE_SQL = """
WITH m AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
           AS ma
  FROM embeddings
)
SELECT vec_id, round(ma, 6) AS max_abs,
       array_to_string(
         list_transform(v, x -> CAST(floor(x * 127.0 / ma + 0.5) AS INT)),
         ',') AS qvec
FROM m ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized top-k: the serving-side companion of
# q_x_emb_quantize — search over the int8 codes, not the floats
# ---------------------------------------------------------------------------

def sq_encode(vecs: DataFrame) -> DataFrame:
    """(vec_id, qv) — max-abs int8 codes of each embedding, the same
    quantizer as q_x_emb_quantize (floor(x*127/max|x| + 0.5), half-up,
    engine-portable). Map-only, no shuffle; the scale factor is NOT
    kept because SQ cosine doesn't need it (see sq_topk)."""
    max_abs = F.array_max(F.transform("v", F.abs))
    return vecs.select(
        "vec_id",
        F.transform(
            "v",
            lambda x: F.floor(F.try_divide(x * 127.0, max_abs) + F.lit(0.5))
            .cast("long"),
        ).alias("qv"),
    )


def sq_topk(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Approximate top-k cosine over SQ8 codes — the memory-bound
    brute-force serving scan a production ANN stack runs when the
    corpus fits (4x smaller than float32; the bucketed path for when
    it doesn't is ivf_topk/pq variants).

    The per-vector max-abs scale CANCELS in cosine (each reconstructed
    vector is code * scale/127, and cosine is scale-invariant), so the
    score is computed on the integer codes directly: integer dot and
    integer norms summed exactly (|code| <= 127, 64 dims -> sums <
    2^21, exact in any engine), one float division + sqrt at the end.
    Cross-engine parity is therefore exact, not ulp-lucky.

    Scale shape: identical to cosine_topk — the bounded query side
    (contract: N_QUERIES, like q26) is broadcast, one scan over the
    candidate codes computes all pair scores map-side, and the
    per-query top-k window partitions on query_id.
    """
    iq = sq_encode(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.aggregate(
            F.transform("qv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("qq"),
    )
    ic = sq_encode(candidates).select(
        "vec_id",
        F.col("qv").alias("ca"),
        F.aggregate(
            F.transform("qv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("cc"),
    )
    idot = F.aggregate(
        F.zip_with("qa", "ca", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    sims = (
        F.broadcast(iq)
        .crossJoin(ic)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    idot.cast("double"),
                    F.sqrt(F.col("qq").cast("double"))
                    * F.sqrt(F.col("cc").cast("double")),
                ),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    )


def q_sim_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    return sq_topk(vecs.where(F.col("vec_id") < N_QUERIES), vecs)


def _lsh_oracle_sql(
    dim: int = 64, n_planes: int = 8, k: int = TOP_K, n_queries: int = N_QUERIES
) -> str:
    """DuckDB oracle for the LSH top-k: the hyperplanes are
    driver-generated literals, so the oracle embeds the SAME values and
    replays the whole pipeline (sign signatures -> bucket equi-join ->
    exact cosine re-rank). 'Approximate' here means approximate vs the
    exact top-k — the computation itself is fully deterministic, so it
    hash-checks like any other query. Projections use the same
    left-to-right list fold as the Spark plan (bit-identical sums)."""
    rows = []
    for p in range(n_planes):
        arr = ", ".join(repr(x) for x in _hyperplane(dim, p))
        rows.append(f"({2 ** p}, CAST([{arr}] AS DOUBLE[]))")
    values = ",\n         ".join(rows)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
planes AS (SELECT * FROM (VALUES {values}) AS t(w, plane)),
sigs AS (
  SELECT v.vec_id,
         CAST(sum(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                          i -> v.e[i] * pl.plane[i])) > 0
                       THEN pl.w ELSE 0 END) AS BIGINT) AS sig
  FROM v CROSS JOIN planes pl GROUP BY v.vec_id),
q AS (SELECT s.vec_id AS query_id, v.e AS qv,
             sqrt(list_dot_product(v.e, v.e)) AS qn, s.sig
      FROM sigs s JOIN v USING (vec_id) WHERE v.vec_id < {n_queries}),
c AS (SELECT s.vec_id, v.e AS cv,
             sqrt(list_dot_product(v.e, v.e)) AS cn, s.sig
      FROM sigs s JOIN v USING (vec_id)),
sims AS (SELECT query_id, c.vec_id,
                round(list_dot_product(qv, cv) / (qn * cn), 4) AS sim
         FROM q JOIN c USING (sig) WHERE query_id <> c.vec_id),
r AS (SELECT query_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS INT) AS rn
      FROM sims)
SELECT query_id, vec_id, sim, rn FROM r WHERE rn <= {k}
ORDER BY query_id, rn"""


Q_SIM_LSH_TOPK_SQL = _lsh_oracle_sql()


def _ivf_oracle_sql(
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> str:
    """DuckDB oracle for the IVF top-k. Like the LSH oracle this replays
    the deterministic pipeline exactly: k-means-trained coarse
    centroids (quantized unrolled Lloyd's, ivf_centroids_kmeans),
    max-cosine bucket assignment (ties to the lowest centroid id),
    n_probe nearest buckets per query, exact cosine re-rank. The numpy
    matmul in the Spark rerank and list_dot_product may differ in
    summation order at the last ulp; the declared 4-decimal rounding
    absorbs it."""
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    km = ",\n".join(_kmeans_ctes("g", 0, 64, n_centroids, PQ_ITER))
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{km},
cent AS (SELECT CAST(cluster AS BIGINT) AS centroid_id, centroid AS cvec
         FROM cg_{PQ_ITER}),
assigned AS (
  SELECT vec_id, centroid_id, e FROM (
    SELECT v.vec_id, c.centroid_id, v.e,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {cos.format(a='v.e', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM v CROSS JOIN cent c)
  WHERE rn = 1),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT v.vec_id AS query_id, v.e AS qv, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {cos.format(a='v.e', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS pr
    FROM v CROSS JOIN cent c WHERE v.vec_id < {n_queries})
  WHERE pr <= {n_probe}),
sims AS (
  SELECT p.query_id, a.vec_id,
         round({cos.format(a='p.qv', b='a.e')}, 4) AS sim
  FROM probes p JOIN assigned a USING (centroid_id)
  WHERE p.query_id <> a.vec_id),
r AS (SELECT query_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS INT) AS rn
      FROM sims)
SELECT query_id, vec_id, sim, rn FROM r WHERE rn <= {k}
ORDER BY query_id, rn"""


Q_SIM_IVF_TOPK_SQL = _ivf_oracle_sql()


def label_centroids(vecs: DataFrame, label: str = "label") -> DataFrame:
    """Per-class embedding centroid, long-form (label, pos, c).

    The cross-row elementwise mean: posexplode each vector to
    (label, pos, val) and average per (label, pos) — ONE shuffle with
    map-side partial aggregation, carrying |labels| x dim rows out.
    The collect_list-then-fold alternative buffers every vector of a
    class in one aggregation state (OOM at class sizes a 100 TB corpus
    reaches); the explode form's state is one running (sum, count) per
    (label, pos) cell regardless of class size. Long-form output keeps
    the result driver-hashable (array columns are not).
    """
    return (
        vecs.select(label, F.posexplode("v").alias("pos", "val"))
        .groupBy(label, "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )


def q_x_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir).join(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id"
    )
    return label_centroids(e).orderBy("label", "pos")


Q_X_EMB_CENTROIDS_SQL = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT label, CAST(i - 1 AS INT) AS pos, v[CAST(i AS INT)] AS val
      FROM e, range(1, 65) r(i))
SELECT label, pos, round(avg(val), 6) AS c
FROM x GROUP BY label, pos ORDER BY label, pos
"""


def q_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH index against the exact brute-force top-k —
    the quality gauge an ANN deployment actually monitors (an index
    with silent recall collapse is worse than no index). Both sides
    are deterministic pipelines, so the MEASUREMENT hash-checks too:
    the oracle replays exact and LSH top-k as CTEs and joins them the
    same way. Scale shape: two neighbor tables joined on
    (query_id, vec_id) — an equi-join whose size is queries x k, tiny
    relative to the corpus at any scale.
    """
    exact = q26_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    ann = q_sim_lsh_topk(spark, sf_dir).select("query_id", "vec_id")
    return _recall_report(exact, ann)


def _recall_report(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """(query_id, n_exact, n_hit, recall) — overlap of an ANN top-k
    with the exact top-k, per query. Both inputs: (query_id, vec_id)."""
    hits = (
        exact.join(ann, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("int").alias("n_exact"),
            F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def l2_topk(
    vecs: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Exact squared-L2 top-k per query, SELF INCLUDED — the ranking
    universe of the PQ family (whose ADC approximates squared L2, and
    which keeps the query among its own candidates). Ties break to the
    lowest vec_id, matching the PQ rank order."""
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = vecs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = vecs.select("vec_id", F.col("v").alias("cv"))
    scored = F.broadcast(q).crossJoin(c).select("query_id", "vec_id", d2.alias("d2"))
    w = W.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )


def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC index against the exact squared-L2 top-k
    — the quality gauge for the COMPRESSED index, parallel to
    q_sim_lsh_recall's monitor for the bucketed one. Both sides are
    deterministic pipelines (k-means-trained codebook included), so
    the measurement itself hash-checks against a full oracle replay."""
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=False)
    exact = l2_topk(vecs)
    ann = pq_flat_topk(vecs, pq_codebook_kmeans(vecs)).select(
        "query_id", F.col("cand_id").alias("vec_id")
    )
    return _recall_report(exact, ann)


# --------------------------------------------------------------------------
# product-quantization ANN (PQ + asymmetric distance computation)
# --------------------------------------------------------------------------
PQ_M = 4        # subspaces
PQ_SUBDIM = 16  # dims per subspace (PQ_M * PQ_SUBDIM = 64 = embedding width)
PQ_K = 16       # codes per subspace codebook


def _pq_sq_fold(sub, code_lits):
    """Sequential squared-L2 fold — the exact zip_with/aggregate order
    the kmeans oracle proved bit-compatible with DuckDB's
    list_sum(list_transform(...))."""
    return F.aggregate(
        F.zip_with(sub, code_lits, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebook_lowest(vecs: DataFrame) -> list[list[list[float]]]:
    """The trivially deterministic codebook: codebook[m] = the m-th
    subvectors of the PQ_K lowest-id vectors. Kept as the un-trained
    baseline the k-means codebook's recall is calibrated against
    (tests/test_llm_ops.py)."""
    cb_rows = vecs.orderBy("vec_id").limit(PQ_K).collect()  # bounded: K rows
    return [
        [list(r.v[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]) for r in cb_rows]
        for m in range(PQ_M)
    ]


def _train_joint_lit(
    vecs: DataFrame,
    spans: list[tuple[int, int]],
    k: int = PQ_K,
    n_iter: int = PQ_ITER,
    round_decimals: int = PQ_ROUND,
) -> list[list[tuple[int, list[float]]]]:
    """Train INDEPENDENT deterministic Lloyd's k-means over several
    (offset, width) column spans of one vector table in a single driver
    loop — one Spark job per iteration for ALL spans (round 15, guide
    §2.2/§2.4).

    Each span's training is value-identical to running
    clustering.kmeans on its slice (same lowest-id init, same
    zip_with/aggregate distance fold against literal centroid doubles,
    argmin ties to the lowest cluster id, same in-plan half-up centroid
    quantization) — only the JOB structure changes: the per-iteration
    update is one map (every span's argmin as a literal-codebook
    distance array, the pq_encode plan shape) + one posexplode over the
    concatenated span slices + one map-side-combined (span, cluster,
    dim) mean aggregate, collected bounded (<= |spans|·k·width rows).
    The round-14 shape ran one DEEP plan per span with a broadcast
    cross join + groupBy(vec_id) argmin + join-back per Lloyd round —
    2 extra |V|-row exchanges per round per span, and 4x the driver
    jobs at PQ_M=4 (interleaved A/B in OPTIMIZATION_r15.md).

    Returns, per span, [(cluster_id, centroid)] ordered by cluster id;
    empty clusters drop out, as with the DataFrame-built table.
    """
    init = vecs.orderBy("vec_id").limit(k).select("v").collect()
    cbs: list[list[tuple[int, list[float]]]] = [
        [(i, [float(x) for x in r.v[off:off + width]]) for i, r in enumerate(init)]
        for (off, width) in spans
    ]
    scale = 10 ** round_decimals
    span_idx: list[int] = []
    dim_idx: list[int] = []
    for s, (_, width) in enumerate(spans):
        span_idx += [s] * width
        dim_idx += list(range(1, width + 1))
    span_of = F.array(*[F.lit(s) for s in span_idx])
    dim_of = F.array(*[F.lit(d) for d in dim_idx])

    def _span_dists(cb_s, off, width):
        # closure factory: PySpark counts a lambda's parameters (default
        # args included) to pick the HOF arity, so bind off/width here
        return F.transform(
            _lit_mat([c for _, c in cb_s]),
            lambda c: _pq_sq_fold(F.slice("_v", off + 1, width), c),
        )

    for _ in range(n_iter):
        with_d = vecs.select(F.col("v").alias("_v")).select(
            "_v",
            *[
                _span_dists(cbs[s], off, width).alias(f"_d{s}")
                for s, (off, width) in enumerate(spans)
            ],
        )
        # one argmin per span, ties to the FIRST (= lowest cluster id)
        with_c = with_d.select(
            "_v",
            F.array(
                *[
                    F.element_at(
                        F.array(*[F.lit(int(cid)) for cid, _ in cbs[s]]),
                        F.array_position(
                            F.col(f"_d{s}"), F.array_min(f"_d{s}")
                        ).cast("int"),
                    )
                    for s in range(len(spans))
                ]
            ).alias("_cs"),
        )
        cat = F.concat(*[F.slice("_v", off + 1, width) for off, width in spans])
        exploded = with_c.select(
            "_cs", F.posexplode(cat).alias("_p", "val")
        ).select(
            F.element_at(span_of, F.col("_p") + 1).alias("s"),
            F.element_at(
                "_cs", F.element_at(span_of, F.col("_p") + 1) + 1
            ).alias("cluster"),
            F.element_at(dim_of, F.col("_p") + 1).alias("dim"),
            "val",
        )
        mean_expr = F.floor(F.avg("val") * scale + F.lit(0.5)) / scale
        rows = (
            exploded.groupBy("s", "cluster", "dim")
            .agg(mean_expr.alias("mean"))
            .collect()  # bounded: <= |spans| * k * width rows
        )
        by: dict[int, dict[int, dict[int, float]]] = {}
        for r in rows:
            by.setdefault(r["s"], {}).setdefault(r["cluster"], {})[r["dim"]] = r[
                "mean"
            ]
        cbs = [
            [
                (cid, [d[i] for i in sorted(d)])
                for cid, d in sorted(by.get(s, {}).items())
            ]
            for s in range(len(spans))
        ]
    return cbs


def pq_codebook_kmeans(
    vecs: DataFrame, n_iter: int = PQ_ITER
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's k-means codebook (the real PQ training).

    Each subspace trains independently on its PQ_SUBDIM-wide slice of
    every vector — deterministic k-means (lowest-id init, fixed
    iterations, argmin ties to the lowest cluster), with centroids
    quantized to PQ_ROUND decimals after each update so the DuckDB
    oracle's replayed training produces the exact same codebook. All
    PQ_M subspaces train in ONE joint driver loop (_train_joint_lit,
    round 15): 1 + n_iter bounded collects total instead of one deep
    multi-shuffle job per subspace. At 100 TB training runs on a
    deterministic sample (faiss-style); the encode plan is unchanged
    either way.
    """
    spans = [(m * PQ_SUBDIM, PQ_SUBDIM) for m in range(PQ_M)]
    cbs = _train_joint_lit(vecs, spans, k=PQ_K, n_iter=n_iter)
    return [[vec for _, vec in cbs[m]] for m in range(PQ_M)]


def _lit_mat(rows: list) -> F.Column:
    """2-D literal array (k x width). Catalyst constant-folds the
    nested CreateArray of literals into ONE array literal, so a
    ``transform`` over it codegens a single fold lambda instead of one
    generated code block per codebook entry — same floats, k-fold less
    generated code (round 15: the per-entry expression fan-out was the
    dominant fixed cost of the PQ family's huge literal plans)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in rows])


def _pq_dist_arr(cb: list, m: int):
    """Distance-table expression for subspace m: one squared-L2 fold
    per codebook entry — a single ``transform`` lambda over the 2-D
    codebook literal, against the row's m-th slice."""
    sub = F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM)
    return F.transform(_lit_mat(cb[m]), lambda c: _pq_sq_fold(sub, c))


def pq_encode(
    vecs: DataFrame,
    cb: list,
    id_alias: str = "cand_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only PQ encoding: (id, *keep, c0..c{M-1}) — argmin
    sub-distance to the literal codebook, ties to the lowest code
    index. The 100 TB memory story: a candidate shrinks from 64 floats
    to PQ_M small ints; the ADC scan side reads codes only.

    The distance arrays are STAGED under private aliases (round 15):
    the previous shape repeated ``_pq_dist_arr`` textually inside
    ``array_position(…, array_min(…))``, so every row paid the PQ_K
    sub-distance folds TWICE per subspace and the plan carried 2x the
    literal expression tree (slower codegen for an already-huge plan).
    A multiply-referenced non-cheap alias stays staged under
    CollapseProject, so each fold now runs once."""
    return vecs.select(
        "vec_id",
        *keep,
        *[_pq_dist_arr(cb, m).alias(f"_d{m}") for m in range(PQ_M)],
    ).select(
        F.col("vec_id").alias(id_alias),
        *keep,
        *[
            F.array_position(F.col(f"_d{m}"), F.array_min(f"_d{m}"))
            .cast("int")
            .alias(f"c{m}")
            for m in range(PQ_M)
        ],
    )


def pq_query_tables(
    vecs: DataFrame, cb: list, n_queries: int = N_QUERIES
) -> DataFrame:
    """Per-query ADC distance tables: (query_id, t0..t{M-1}), each t a
    PQ_K-entry array. Map-only against the literal codebook."""
    return vecs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        *[_pq_dist_arr(cb, m).alias(f"t{m}") for m in range(PQ_M)],
    )


def _pq_adc_expr():
    """Approximate squared distance = PQ_M table lookups, summed
    left-to-right (the oracle adds in the same order)."""
    approx = None
    for m in range(PQ_M):
        term = F.element_at(F.col(f"t{m}"), F.col(f"c{m}"))
        approx = term if approx is None else approx + term
    return approx


def _pq_rank(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    w = W.partitionBy("query_id").orderBy("approx", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            "rank",
            (F.floor(F.col("approx") * 10000 + F.lit(0.5)) / 10000).alias(
                "approx_d2"
            ),
        )
        .orderBy("query_id", "rank")
    )


def pq_flat_topk(vecs: DataFrame, cb: list, k: int = TOP_K) -> DataFrame:
    """Flat PQ/ADC scan: every candidate's codes meet every query's
    tables (fine for a bounded query set; the IVF-PQ composition below
    is the production shape that prunes the scan)."""
    enc = pq_encode(vecs, cb)
    qtabs = pq_query_tables(vecs, cb)
    scored = enc.crossJoin(F.broadcast(qtabs)).select(
        "query_id", "cand_id", _pq_adc_expr().alias("approx")
    )
    return _pq_rank(scored, k)


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: encode every candidate as PQ_M codes
    (argmin sub-distance to a per-subspace codebook), then answer
    queries with Asymmetric Distance Computation — per query, one
    PQ_K-entry distance table per subspace, and each candidate's
    approximate distance is PQ_M table LOOKUPS instead of a 64-dim
    fold.

    Training: per-subspace k-means (pq_codebook_kmeans) — deterministic
    lowest-id init + fixed Lloyd rounds + quantized centroids, so the
    oracle replays the exact training and the whole query hash-checks.
    Encoding and table building are map-only against the literal
    codebook; ranking ties break (distance, cand_id).
    """
    # pin the vector table: codebook training, encoding, and query
    # tables all reference it (each would otherwise re-scan the source)
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=False)
    return pq_flat_topk(vecs, pq_codebook_kmeans(vecs))


def _pq_kmeans_cb_ctes(n_iter: int = PQ_ITER) -> list[str]:
    """CTE text replaying pq_codebook_kmeans in DuckDB: per subspace, a
    loop-unrolled Lloyd's folded into one final ``cb`` row of
    k0..k{M-1} code lists (each list ordered by cluster id, matching
    the Spark collect order)."""
    parts = []
    for m in range(PQ_M):
        parts += _kmeans_ctes(str(m), m * PQ_SUBDIM, PQ_SUBDIM, PQ_K, n_iter)
        parts.append(
            f"cb{m} AS (SELECT list(centroid ORDER BY cluster) AS k{m}"
            f" FROM c{m}_{n_iter})"
        )
    parts.append(
        "cb AS (SELECT "
        + ", ".join(f"k{m}" for m in range(PQ_M))
        + " FROM "
        + " CROSS JOIN ".join(f"cb{m}" for m in range(PQ_M))
        + ")"
    )
    return parts


def _pq_d_expr(m: int, src: str) -> str:
    """DuckDB distance-table expression vs codebook list k{m} — the
    list-fold the kmeans oracle established as bit-compatible with the
    Spark zip_with/aggregate fold."""
    return (
        f"list_transform(k{m}, c -> list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
        f"i -> ({src}.e[{m * PQ_SUBDIM}+i] - c[i]) * ({src}.e[{m * PQ_SUBDIM}+i] - c[i]))))"
    )


def _pq_oracle_sql() -> str:
    """PQ/ADC oracle: replayed k-means codebook, then the same encode,
    table, lookup, rank."""
    enc_cols = ", ".join(
        f"list_position({_pq_d_expr(m, 'v')}, list_min({_pq_d_expr(m, 'v')})) AS c{m}"
        for m in range(PQ_M)
    )
    tab_cols = ", ".join(f"{_pq_d_expr(m, 'v')} AS t{m}" for m in range(PQ_M))
    approx = " + ".join(f"q.t{m}[e.c{m}]" for m in range(PQ_M))
    ctes = ",\n".join(_pq_kmeans_cb_ctes())
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{ctes},
enc AS (SELECT v.vec_id AS cand_id, {enc_cols} FROM v CROSS JOIN cb),
qt AS (SELECT v.vec_id AS query_id, {tab_cols}
       FROM v CROSS JOIN cb WHERE v.vec_id < {N_QUERIES}),
adc AS (SELECT q.query_id, e.cand_id, {approx} AS approx
        FROM enc e CROSS JOIN qt q),
ranked AS (SELECT query_id, cand_id, approx,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx, cand_id) AS rank
           FROM adc)
SELECT query_id, cand_id, rank,
       floor(approx * 10000 + 0.5) / 10000 AS approx_d2
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank"""


Q_SIM_PQ_TOPK_SQL = _pq_oracle_sql()


def _pq_recall_oracle_sql() -> str:
    """PQ recall-monitor oracle: the full PQ replay (k-means codebook,
    encode, ADC, rank) joined against an exact squared-L2 top-k CTE —
    the same measurement q_sim_pq_recall computes, replayed end-to-end."""
    enc_cols = ", ".join(
        f"list_position({_pq_d_expr(m, 'v')}, list_min({_pq_d_expr(m, 'v')})) AS c{m}"
        for m in range(PQ_M)
    )
    tab_cols = ", ".join(f"{_pq_d_expr(m, 'v')} AS t{m}" for m in range(PQ_M))
    approx = " + ".join(f"q.t{m}[e.c{m}]" for m in range(PQ_M))
    ctes = ",\n".join(_pq_kmeans_cb_ctes())
    exact_d2 = ("list_sum(list_transform(range(1, 65), "
                "i -> (q.e[i] - c.e[i]) * (q.e[i] - c.e[i])))")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{ctes},
enc AS (SELECT v.vec_id AS cand_id, {enc_cols} FROM v CROSS JOIN cb),
qt AS (SELECT v.vec_id AS query_id, {tab_cols}
       FROM v CROSS JOIN cb WHERE v.vec_id < {N_QUERIES}),
adc AS (SELECT q.query_id, e.cand_id, {approx} AS approx
        FROM enc e CROSS JOIN qt q),
ann AS (SELECT query_id, cand_id AS vec_id FROM (
          SELECT query_id, cand_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY approx, cand_id) AS rank
          FROM adc) WHERE rank <= {TOP_K}),
exact AS (SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {exact_d2}, c.vec_id) AS rn
            FROM v q CROSS JOIN v c WHERE q.vec_id < {N_QUERIES})
          WHERE rn <= {TOP_K}),
hits AS (SELECT e.query_id, count(*) AS n_hit
         FROM exact e JOIN ann a USING (query_id, vec_id)
         GROUP BY e.query_id),
base AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT b.query_id, CAST(b.n_exact AS INT) AS n_exact,
       CAST(coalesce(h.n_hit, 0) AS INT) AS n_hit,
       round(coalesce(h.n_hit, 0) / CAST(b.n_exact AS DOUBLE), 4) AS recall
FROM base b LEFT JOIN hits h USING (query_id)
ORDER BY b.query_id"""


Q_SIM_PQ_RECALL_SQL = _pq_recall_oracle_sql()


# --------------------------------------------------------------------------
# IVF-PQ: the production ANN composition (coarse prune + compressed scan)
# --------------------------------------------------------------------------

def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the faiss-style production shape, composed from the
    two parents already in this module:

      1. coarse quantizer (IVF): every candidate joins its nearest of
         N_CENTROIDS centroids (one shuffle — the inverted-list build);
         each query probes its N_PROBE nearest lists.
      2. fine quantizer (PQ): candidates inside the probed lists are
         scored by Asymmetric Distance Computation against the
         k-means-trained codebook — PQ_M table lookups per candidate,
         reading codes (PQ_M small ints), never the raw 64 floats.

    At 100 TB each query touches n_probe/n_centroids of the corpus AND
    reads it compressed ~32x: the scan side of the join is
    (centroid_id, codes) rows, with probes and query tables broadcast
    (both bounded by |queries|). Fully deterministic — lowest-id coarse
    centroids, fixed-round k-means codebook, (distance, cand_id) tie
    ranking — so the DuckDB oracle replays the whole construction and
    the query hash-checks; recall@k vs exact L2 is measured in
    tests/test_llm_ops.py.
    """
    # pin the vector table: coarse assignment, probes, codebook
    # training, encoding, and query tables all reference it
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=False)
    # round 15: coarse centroids and all PQ_M codebooks train in ONE
    # joint driver loop (1 + PQ_ITER jobs total; each span's training
    # is value-identical to its separate run — _train_joint_lit), and
    # the IVF list build is a MAP against the literal centroids instead
    # of a crossJoin + groupBy(vec_id) that shuffled every vector
    # payload through the argmax (guide §2.4; §8's "decide with small
    # rows" — here the decision needs no shuffle at all)
    dim = PQ_M * PQ_SUBDIM
    # one k trains every span; the oracle and pq_codebook_kmeans train
    # the PQ spans at PQ_K, so parity holds only while the two agree
    assert N_CENTROIDS == PQ_K
    cbs = _train_joint_lit(
        vecs,
        [(0, dim)] + [(m * PQ_SUBDIM, PQ_SUBDIM) for m in range(PQ_M)],
        k=N_CENTROIDS,
    )
    coarse, cb = cbs[0], [[v for _, v in cbs[1 + m]] for m in range(PQ_M)]
    cent = F.broadcast(_centroid_table(spark, coarse))
    assigned = _ivf_assign_lit(vecs, coarse)
    enc = pq_encode(assigned, cb, keep=("centroid_id",))
    probes = _ivf_probes(vecs.where(F.col("vec_id") < N_QUERIES), cent).select(
        "query_id", "centroid_id"
    )
    qtabs = pq_query_tables(vecs, cb)
    scored = (
        enc.join(F.broadcast(probes), "centroid_id")
        .join(F.broadcast(qtabs), "query_id")
        .select("query_id", "cand_id", _pq_adc_expr().alias("approx"))
    )
    return _pq_rank(scored)


def _ivfpq_oracle_sql(
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    n_queries: int = N_QUERIES,
) -> str:
    """IVF-PQ oracle: the IVF oracle's coarse-assignment/probe CTEs
    (k-means-trained centroids; cosine assignment, ties to the lowest
    centroid id) composed with the PQ oracle's replayed k-means
    codebook and ADC scoring, with the scan restricted to probed
    lists."""
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    enc_cols = ", ".join(
        f"list_position({_pq_d_expr(m, 'v')}, list_min({_pq_d_expr(m, 'v')})) AS c{m}"
        for m in range(PQ_M)
    )
    tab_cols = ", ".join(f"{_pq_d_expr(m, 'v')} AS t{m}" for m in range(PQ_M))
    approx = " + ".join(f"q.t{m}[e.c{m}]" for m in range(PQ_M))
    km = ",\n".join(_kmeans_ctes("g", 0, 64, n_centroids, PQ_ITER))
    ctes = ",\n".join(_pq_kmeans_cb_ctes())
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{km},
cent AS (SELECT CAST(cluster AS BIGINT) AS centroid_id, centroid AS cvec
         FROM cg_{PQ_ITER}),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {cos.format(a='v.e', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM v CROSS JOIN cent c)
  WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT v.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {cos.format(a='v.e', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS pr
    FROM v CROSS JOIN cent c WHERE v.vec_id < {n_queries})
  WHERE pr <= {n_probe}),
{ctes},
enc AS (SELECT v.vec_id AS cand_id, {enc_cols} FROM v CROSS JOIN cb),
qt AS (SELECT v.vec_id AS query_id, {tab_cols}
       FROM v CROSS JOIN cb WHERE v.vec_id < {n_queries}),
adc AS (SELECT p.query_id, e.cand_id, {approx} AS approx
        FROM probes p
        JOIN assigned a USING (centroid_id)
        JOIN enc e ON e.cand_id = a.vec_id
        JOIN qt q ON q.query_id = p.query_id),
ranked AS (SELECT query_id, cand_id, approx,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx, cand_id) AS rank
           FROM adc)
SELECT query_id, cand_id, rank,
       floor(approx * 10000 + 0.5) / 10000 AS approx_d2
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank"""


Q_SIM_IVFPQ_TOPK_SQL = _ivfpq_oracle_sql()


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------
HN_QUERIES = 8
HN_K = 3


def hard_negatives(
    vectors: DataFrame, n_queries: int = HN_QUERIES, k: int = HN_K
) -> DataFrame:
    """(query_id, query_label, vec_id, neg_label, sim, rn) — for each
    query vector, the k most-similar vectors with a DIFFERENT label:
    contrastive-training hard negatives (the near-misses that actually
    move a metric-learning loss, vs easy random negatives). Same
    broadcast-bounded-query-set shape as q26's exact top-k with a
    label-inequality predicate in the pair filter; the scale path swaps
    the exact scan for the IVF/LSH candidate generation exactly as the
    positive-pair path does.
    """
    from bigdatagenomic_spark.functions import dot

    def norm(v):
        return F.sqrt(dot(v, v))

    base = vectors.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
    )
    c = base.select(
        "vec_id",
        F.col("label").alias("neg_label"),
        F.col("v").alias("cv"),
        norm(F.col("v")).alias("cn"),
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_label") != F.col("neg_label"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            "neg_label",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "query_label", "vec_id", "neg_label", "sim", "rn")
    )


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb).orderBy("query_id", "rn")


# --------------------------------------------------------------------------
# two-stage retrieval: SQ8 coarse shortlist -> exact float re-rank
# --------------------------------------------------------------------------
SHORTLIST = 20  # coarse candidates kept per query before the exact stage


def rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    shortlist: int = SHORTLIST,
    k: int = TOP_K,
) -> DataFrame:
    """The production two-stage serving shape: a cheap quantized coarse
    scan keeps ``shortlist`` candidates per query, then ONLY those rows
    pay for exact float cosine. Composes :func:`sq_topk` (stage 1 —
    exact-integer int8 scoring, so the shortlist set is deterministic
    and engine-portable) with a float re-rank joined back to the
    full-precision vectors (stage 2).

    Scale shape: stage 1 is the memory-bound int8 scan (4x less
    bandwidth than float32; at corpus scale you'd swap in the IVF/PQ
    bucketed coarse stage — the rerank contract is identical). Stage 2
    touches |Q| x shortlist rows, never the corpus: the shortlist side
    is the broadcast build, the probe is one equi-join on vec_id, and
    the final window partitions by query_id (bounded by shortlist).
    """
    coarse = sq_topk(queries, candidates, k=shortlist).select(
        "query_id", "vec_id"
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rescored = (
        F.broadcast(coarse.join(qv, "query_id"))
        .join(candidates, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    )


def q_sim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=False)
    return rerank_topk(vecs.where(F.col("vec_id") < N_QUERIES), vecs)


# ---------------------------------------------------------------------------
# cosine range search (threshold retrieval)
# ---------------------------------------------------------------------------

# 0.35 sits above the word-soup background (~0.3) but below the planted
# near-dup band — non-trivial hit sets at every testdata SF
RANGE_THRESHOLD = 0.35


def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) retrieval: ALL corpus vectors within a cosine
    radius of each bounded query — the recall-complete sibling of the
    top-k search (dedup sweeps and contamination audits want "everything
    closer than t", not "the best k"). Same plan economics as
    q26_cosine_topk: the bounded query set broadcasts, the corpus scans
    once, and the output is filtered by the rounded similarity grid so
    the result set (unlike top-k) needs no window at all — a pure scan
    + broadcast join, the cheapest possible shape at 100 TB.
    """
    vecs = _vecs(spark, sf_dir)
    from bigdatagenomic_spark.functions import dot

    def norm(v):
        return F.sqrt(dot(v, v))

    q = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
    )
    c = vecs.select(
        F.col("vec_id"), F.col("v").alias("cv"), norm(F.col("v")).alias("cn")
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                4,
            ).alias("sim"),
        )
    )
    return sims.where(F.col("sim") >= RANGE_THRESHOLD).orderBy(
        "query_id", "vec_id"
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------

MMR_N_QUERIES = 4
MMR_SHORTLIST = 12
MMR_K = 5
# lambda = 0.7 expressed as exact integer weights over the micro-sim grid:
# mmr = MMR_W_REL * rel_m - MMR_W_RED * red_m  (7:3)
MMR_W_REL = 7
MMR_W_RED = 3


def _micro_sim(a, b, an, bn):
    """Cosine on the signed micro grid (x1e4, half-away-from-zero) as a
    BIGINT — the exact currency the MMR algebra runs in."""
    from bigdatagenomic_spark.functions import dot

    return F.round(
        F.try_divide(dot(a, b), an * bn) * 10000
    ).cast("long")


def mmr_select(
    queries: DataFrame,
    candidates: DataFrame,
    shortlist: int = MMR_SHORTLIST,
    k: int = MMR_K,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results trading relevance to the query
    against redundancy to the already-picked set —
    ``mmr(c) = 7*rel(c) - 3*max_{s in picked} sim(c, s)`` on the exact
    integer micro-sim grid (so both engines rank identical BIGINTs; the
    max over the empty set is 0 by contract, making pick 1 the pure
    relevance argmax).

    Scale shape: the expensive stage (exact sims) is bounded — Q
    queries x the corpus for the shortlist, then shortlist² pairwise
    sims; the k greedy rounds run over Q x shortlist rows, so the
    unrolled loop adds fixed driver-side plan depth, never data-sized
    work. This is the standard diversified-serving stage downstream of
    any of the ANN indexes (q_sim_*_topk).
    """
    from bigdatagenomic_spark.functions import dot

    def norm(v):
        return F.sqrt(dot(v, v))

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
    )
    c = candidates.select(
        F.col("vec_id"), F.col("v").alias("cv"), norm(F.col("v")).alias("cn")
    )
    rel = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            "cv",
            "cn",
            _micro_sim(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
                "rel_m"
            ),
        )
    )
    w_short = W.partitionBy("query_id").orderBy(F.desc("rel_m"), F.asc("vec_id"))
    short = (
        rel.withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= shortlist)
        .select("query_id", "vec_id", "cv", "cn", "rel_m")
        .localCheckpoint(eager=True)
    )
    a = short.select(
        "query_id",
        F.col("vec_id").alias("c_id"),
        F.col("cv").alias("av"),
        F.col("cn").alias("an"),
    )
    b = short.select(
        "query_id",
        F.col("vec_id").alias("s_id"),
        F.col("cv").alias("bv"),
        F.col("cn").alias("bn"),
    )
    pairs = (
        a.join(b, "query_id")
        .where(F.col("c_id") != F.col("s_id"))
        .select(
            "query_id",
            "c_id",
            "s_id",
            _micro_sim(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")).alias(
                "r_m"
            ),
        )
        .localCheckpoint(eager=True)
    )
    cands = short.select("query_id", "vec_id", "rel_m")
    w_pick = W.partitionBy("query_id")
    sel = (
        cands.withColumn(
            "rn",
            F.row_number().over(
                w_pick.orderBy(F.desc("rel_m"), F.asc("vec_id"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "vec_id",
            F.lit(1).alias("pick"),
            (F.lit(MMR_W_REL) * F.col("rel_m")).alias("mmr_m"),
        )
    )
    for t in range(2, k + 1):
        red = (
            pairs.join(
                sel.select("query_id", F.col("vec_id").alias("s_id")),
                ["query_id", "s_id"],
            )
            .join(
                sel.select("query_id", F.col("vec_id").alias("c_id")),
                ["query_id", "c_id"],
                "left_anti",
            )
            .groupBy("query_id", F.col("c_id").alias("vec_id"))
            .agg(F.max("r_m").alias("red_m"))
        )
        scored = cands.join(red, ["query_id", "vec_id"]).select(
            "query_id",
            "vec_id",
            (
                F.lit(MMR_W_REL) * F.col("rel_m")
                - F.lit(MMR_W_RED) * F.col("red_m")
            ).alias("mmr_m"),
        )
        pick_t = (
            scored.withColumn(
                "rn",
                F.row_number().over(
                    w_pick.orderBy(F.desc("mmr_m"), F.asc("vec_id"))
                ),
            )
            .where(F.col("rn") == 1)
            .select("query_id", "vec_id", F.lit(t).alias("pick"), "mmr_m")
        )
        sel = sel.unionByName(pick_t)
    return sel.orderBy("query_id", "pick")


def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    return mmr_select(vecs.where(F.col("vec_id") < MMR_N_QUERIES), vecs)


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against the exact cosine top-k —
    completes the ANN quality-monitor set (LSH: q_sim_lsh_recall, PQ:
    q_sim_pq_recall, IVF: this). Both sides are deterministic
    pipelines, so the measurement itself hash-checks; the monitor join
    is queries x k rows, trivial at any scale."""
    exact = q26_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    ann = q_sim_ivf_topk(spark, sf_dir).select("query_id", "vec_id")
    return _recall_report(exact, ann)


# ---------------------------------------------------------------------------
# metadata-filtered vector search (label-constrained top-k)
# ---------------------------------------------------------------------------

def q_sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-filtered exact cosine top-k: each query retrieves only
    candidates sharing its label — the production "filtered vector
    search" shape (tenant / language / safety-tier constraints), where
    the metadata predicate composes with the similarity ranking instead
    of post-filtering a fixed-k result (post-filtering under-fills
    the top-k when the filter is selective; this is the pre-filter
    form, the semantics ANN engines call filtered search).

    Plan: the label filter is an equi-join key — queries broadcast with
    their label, candidates pair ONLY within the label partition, so
    the scored set shrinks by the filter's selectivity BEFORE any
    ranking work; the rank window is per (query) over that reduced
    set. At 100 TB the label key is exactly the IVF-style partition
    pruning hook (store candidates partitioned by label and the scan
    prunes too).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("label"),
    )
    from bigdatagenomic_spark.functions import dot

    def norm(v):
        return F.sqrt(dot(v, v))

    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
    )
    c = e.select(
        "vec_id",
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        norm(F.col("v")).alias("cn"),
    )
    sims = (
        c.join(F.broadcast(q), F.col("clabel") == F.col("qlabel"))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "vec_id",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "label", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    )
