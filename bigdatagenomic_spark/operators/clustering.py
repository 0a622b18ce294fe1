"""Embedding clustering: Lloyd's k-means (north star; partner to the
IVF ANN index in operators/similarity.py, which consumes exactly this
kind of centroid assignment).

Spark-first shape, all JVM expressions:
  * assignment: centroids live in a K-row DataFrame that is BROADCAST
    and cross-joined — each executor scores its vectors against all K
    centroids locally (squared-L2 via zip_with/aggregate), argmin via
    min_by. No shuffle of the big side.
  * update: posexplode the 64-dim vectors to (cluster, dim, val), one
    map-side-combined groupBy(cluster, dim) avg, re-assemble arrays
    with array_sort(collect_list(struct(dim, mean))). The shuffled data
    is K×64 partial means per map task — tiny regardless of input size.
  * deterministic: init = the K lowest vec_ids' embeddings; fixed
    iteration count; ties in argmin break to the lowest cluster id.
    Retry-safe (no rand()), which also makes it testable bit-for-bit
    against a numpy reference (tests/test_clustering.py).

At 100 TB the per-iteration cost is one scan + one tiny shuffle; the
driver loop localCheckpoints nothing because each iteration's output is
just the K×64 centroid table (collected to the driver implicitly via
broadcast — the classic small-model/big-data iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatagenomic_spark.sources.local import local_frame
from bigdatagenomic_spark.sources.tables import load_table


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_clusters(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cluster, dist) — nearest centroid per vector.

    vectors: (vec_id, embedding array<float>); centroids: (cluster,
    centroid array<double>). Broadcast cross join + min_by argmin;
    deterministic tie-break to the lowest cluster id.
    """
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    scored = vectors.select("vec_id", emb_d.alias("e")).crossJoin(
        F.broadcast(centroids)
    )
    d = _sq_l2(F.col("e"), F.col("centroid"))
    return (
        scored.select("vec_id", "cluster", d.alias("dist"))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "cluster", F.struct(F.col("dist"), F.col("cluster"))
            ).alias("cluster"),
            F.min("dist").alias("dist"),
        )
    )


def _lit_mat(rows: list) -> F.Column:
    """2-D literal array (k x dims); Catalyst constant-folds it into
    ONE array literal, so the ``transform`` below codegens a single
    distance-fold lambda instead of one generated block per centroid
    (see similarity._lit_mat — same round-15 finding)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in rows])


def _nearest_lit(cents: list[tuple[int, list[float]]]):
    """(staging alias, cluster expr, dist expr) for nearest-centroid
    assignment against a LITERAL centroid list — the plan shape of
    similarity.pq_encode. The distance array is projected once under a
    private alias (multi-referenced non-cheap aliases stay staged under
    CollapseProject, so the k folds run once per row); argmin ties
    break to the FIRST position = the lowest cluster id, matching
    min_by over struct(dist, cluster)."""
    darr = F.transform(
        _lit_mat([v for _, v in cents]), lambda c: _sq_l2(F.col("_e"), c)
    )
    ids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    cluster = F.element_at(
        ids, F.array_position(F.col("_d"), F.array_min("_d")).cast("int")
    )
    return darr, cluster, F.array_min("_d")


def kmeans(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    round_decimals: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (assignments(vec_id, cluster, dist), centroids(cluster,
    centroid)). Deterministic init from the k lowest vec_ids.

    ``round_decimals`` quantizes each updated centroid component with
    half-up ``floor(x*10^d + 0.5)/10^d``. Consumers that re-embed the
    trained centroids as plan literals AND replay training in a second
    engine (the PQ codebook oracle, operators/similarity.py) need this:
    the per-dim ``avg`` is the one place the two engines can diverge in
    summation order at the last ulp, and quantizing after every update
    stops that ulp from compounding into a flipped argmin downstream.
    ``None`` (default) keeps raw doubles.

    Round 15 shape (guide §2.4, remove shuffles outright): centroids
    are a k x dims driver-side list anyway (each iteration's update is
    a bounded collect, the classic small-model/big-data loop), so the
    ASSIGNMENT is a map-only argmin against LITERAL centroid arrays —
    the plan shape of similarity.pq_encode — instead of a broadcast
    cross join + groupBy(vec_id) argmin + join-back. That removes two
    |V|-row exchanges per Lloyd round (the k·|V|-row argmin shuffle and
    the update's join by vec_id); the only per-round cluster work left
    is the map-side-combined (cluster, dim) mean aggregate. Identical
    floats: the same zip_with/aggregate distance fold against the same
    centroid doubles (collect -> Python float -> lit round-trips IEEE
    doubles exactly), argmin ties to the lowest cluster id either way,
    and the per-dim mean is the same Spark aggregate (the rounding
    stays in-plan). Interleaved A/B at sf0.1: see OPTIMIZATION_r15.md.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = vectors.sparkSession
    # pin the working set once: every iteration references `vectors`
    # (assign + update fused into one map) and without the pin each
    # iteration job would re-derive it from the source scan (the same
    # .cache() Spark ML's KMeans does before its loop).
    vectors = vectors.localCheckpoint(eager=False)
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    init = vectors.orderBy("vec_id").limit(k).select(emb_d.alias("c")).collect()
    cents = [(i, list(r.c)) for i, r in enumerate(init)]
    mean_expr = F.avg("val")
    if round_decimals is not None:
        scale = 10 ** round_decimals
        mean_expr = F.floor(mean_expr * scale + F.lit(0.5)) / scale
    for _ in range(n_iter):
        darr, cluster, _dist = _nearest_lit(cents)
        dims = (
            vectors.select(emb_d.alias("_e"))
            .select("_e", darr.alias("_d"))
            # cluster is resolved BELOW the posexplode so the Generate
            # carries only (cluster, _e) — with it computed above, every
            # exploded row hauled the k-double distance array (measured:
            # +5-8 s on the PQ/IVF paths at sf0.1)
            .select("_e", cluster.alias("cluster"))
            .select("cluster", F.posexplode("_e").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(mean_expr.alias("mean"))
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in dims.collect():  # bounded: <= k x dims rows
            by_c.setdefault(r["cluster"], {})[r["dim"]] = r["mean"]
        # empty clusters drop out, as with the old groupBy-built table
        cents = [
            (cid, [d[i] for i in sorted(d)]) for cid, d in sorted(by_c.items())
        ]
    darr, cluster, dist = _nearest_lit(cents)
    assigned = (
        vectors.select("vec_id", emb_d.alias("_e"))
        .select("vec_id", darr.alias("_d"))
        .select("vec_id", cluster.alias("cluster"), dist.alias("dist"))
    )
    cent_schema = StructType(
        [
            StructField("cluster", IntegerType(), False),
            StructField("centroid", ArrayType(DoubleType()), False),
        ]
    )
    centroids = local_frame(spark, cents, cent_schema)
    return assigned, centroids


def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster sizes + within-cluster dispersion after 3 rounds, k=4.
    Fixed-iteration → hash-checked against a loop-unrolled CTE oracle;
    exact parity with numpy is pinned in tests/test_clustering.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans(emb.select("vec_id", "embedding"), k=4, n_iter=3)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.floor(F.avg("dist") * 10000 + F.lit(0.5)) / 10000).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


def _kmeans_oracle_sql(k: int = 4, n_iter: int = 3, dims: int = 64) -> str:
    """Loop-unrolled Lloyd's oracle: one assign + one update CTE pair per
    iteration (fixed iteration count needs no recursion). Distances use
    the same left-to-right list fold as the Spark plan, so they agree
    bit-for-bit; the only cross-engine float divergence is the avg
    summation order in the centroid update, absorbed by the final
    4-decimal floor rounding. ``dims`` pins the embedding width
    (TESTDATA.md: 64)."""
    d2 = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        "i -> (v.e[i] - c.centroid[i]) * (v.e[i] - c.centroid[i])))"
    )
    parts = [
        f"""
  v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
  c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                e AS centroid
         FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k}))"""
    ]
    for it in range(1, n_iter + 1):
        parts.append(f"""
  a{it} AS (
    SELECT vec_id, cluster, dist FROM (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM (SELECT v.vec_id, c.cluster, {d2} AS dist
            FROM v CROSS JOIN c{it - 1} c))
    WHERE rn = 1),
  c{it} AS (
    SELECT cluster, list(mean ORDER BY dim) AS centroid FROM (
      SELECT a.cluster, t.dim, avg(v.e[t.dim]) AS mean
      FROM a{it} a JOIN v USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS dim) t
      GROUP BY a.cluster, t.dim)
    GROUP BY cluster)""")
    parts.append(f"""
  afinal AS (
    SELECT vec_id, cluster, dist FROM (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM (SELECT v.vec_id, c.cluster, {d2} AS dist
            FROM v CROSS JOIN c{n_iter} c))
    WHERE rn = 1)""")
    return (
        "WITH" + ",".join(parts)
        + """
SELECT cluster, count(*) AS n_vecs,
       floor(avg(dist) * 10000 + 0.5) / 10000 AS mean_sq_dist
FROM afinal GROUP BY cluster ORDER BY cluster"""
    )


Q_CLUSTER_KMEANS_SQL = _kmeans_oracle_sql()


# --------------------------------------------------------------------------
# nearest-centroid classifier evaluation (confusion matrix)
# --------------------------------------------------------------------------
NCC_ROUND = 6  # centroid quantization decimals (see kmeans round_decimals)


def nearest_centroid_eval(vectors: DataFrame) -> DataFrame:
    """(label, pred, n) — confusion matrix of the nearest-centroid
    classifier: fit one centroid per TRUE label (per-dim mean, half-up
    quantized at NCC_ROUND decimals — same ulp-compounding defense as
    kmeans' round_decimals), then re-assign every vector to its nearest
    centroid and cross-tabulate truth vs prediction. The standard
    eval-loop readout (accuracy/per-class recall derive from this
    table), and a leak-check on the embedding space: a label whose own
    centroid does not reclaim its vectors is not linearly separated.

    Scale: one per-(label, dim) mean aggregate, a broadcast of the
    |labels| x dims centroid table, and one count aggregate — the same
    shapes as kmeans' update + assign, no iteration.
    """
    v = vectors.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).localCheckpoint(eager=False)
    scale = 10 ** NCC_ROUND
    dims = (
        v.select("label", F.posexplode("e").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg((F.floor(F.avg("val") * scale + F.lit(0.5)) / scale).alias("mean"))
    )
    centroids = dims.groupBy(F.col("label").alias("cluster")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s["mean"],
        ).alias("centroid")
    )
    assigned = assign_clusters(
        v.select("vec_id", F.col("e").alias("embedding")), centroids
    )
    return (
        v.select("vec_id", "label")
        .join(assigned.select("vec_id", F.col("cluster").alias("pred")), "vec_id")
        .groupBy("label", "pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_x_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return nearest_centroid_eval(emb).orderBy("label", "pred")


def _ncc_oracle_sql(dims: int = 64) -> str:
    d2 = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        "i -> (v.e[i] - c.centroid[i]) * (v.e[i] - c.centroid[i])))"
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(label AS INT) AS label,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings),
cent AS (
  SELECT label AS cluster, list(mean ORDER BY dim) AS centroid FROM (
    SELECT v.label, t.dim,
           floor(avg(v.e[t.dim]) * 1e{NCC_ROUND} + 0.5) / 1e{NCC_ROUND}
             AS mean
    FROM v CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS dim) t
    GROUP BY v.label, t.dim)
  GROUP BY label),
assigned AS (
  SELECT vec_id, cluster AS pred FROM (
    SELECT v.vec_id, c.cluster, {d2} AS dist,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2}, c.cluster) AS rn
    FROM v CROSS JOIN cent c)
  WHERE rn = 1)
SELECT v.label, a.pred, CAST(count(*) AS BIGINT) AS n
FROM v JOIN assigned a USING (vec_id)
GROUP BY v.label, a.pred
ORDER BY v.label, a.pred
"""


Q_X_CONFUSION_SQL = _ncc_oracle_sql()
