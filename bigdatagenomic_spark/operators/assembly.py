"""The assembly pipeline (reference operators R4-R7) as Spark DataFrame ops.

The reference (assembly_final.cpp) runs three synchronous GraphLab GAS
vertex programs in sequence:

  phase 1  ``exempt_reads_program``   (assembly_final.cpp:155-182)
  phase 2  ``find_max_children``      (assembly_final.cpp:251-325)
  phase 3  ``merge``                  (assembly_final.cpp:402-624)

This module re-expresses each phase as declarative DataFrame algebra —
no vertex programs, no supersteps, no signals:

  phase 1 → one left join + boolean projection        (``flag_valid``)
  phase 2 → one aggregate with ``max_by``             (``best_child``)
  phase 3 → pointer-doubling path extraction (O(log L) joins) + a single
            ordered higher-order-function fold        (``extract_path`` +
            ``merge_path``)

Scale notes (100 TB design): every join projects only the columns it
needs (mirroring the reference's slim gather accumulators,
assembly_final.cpp:186-224/330-396); the doubling loop localCheckpoints
each round to cut lineage; the fold materializes one path's content on a
single row, which is fine up to ~hundreds of MB of sequence — beyond
that, ``merge_path_pairwise`` does log2(L) rounds of pairwise interval
merges with no single-row blowup.

Lifecycle: like the reference, which loads its read file into the
distributed graph once (assembly_final.cpp:88-123) and runs every phase
over that graph, the pipeline runs over the pinned frame that
``sources.graphlab_text.read_graphlab_text`` returns. The caller's load
count fills the pin; ``assemble``'s path collect, the merge fold and the
per-vertex sink then read pinned rows and never re-scan or re-parse the
file. Intermediate frames (``annotated``) are not pinned: each consumer
re-runs only the joins over the pinned reads. The path walked on the
driver comes back as a local relation (``sources.local.local_frame``), so
the merge's broadcast of it runs in the JVM and no step of the pipeline
starts a Python worker.

Semantics pinned per SURVEY.md §2.A "faithful-semantics notes":
  * ``valid`` is a derived *output* column with the intended semantics
    (dead-end + not-best-child invalidation); like the reference
    (signal_all at :722/:732), it does not gate phases 2-3.
  * argmax tie-break: highest score, then lowest dst id (the reference's
    gather-order tie-break at :302 is nondeterministic).
  * the merge fold runs in path order (the reference's parent-resignal
    fixpoint, :602-619, converges to exactly this left fold).
  * bit_compat=True reproduces case A3's fixed 1-base-overlap assumption
    (assembly_final.cpp:503-517); bit_compat=False (default) uses the
    intended overlap-trim math, consistent with cases B/C/D.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bigdatagenomic_spark.sources.local import fits_driver, local_frame


# ---------------------------------------------------------------------------
# phase 1 — R4: dead-end invalidation (exempt_reads_program)
# ---------------------------------------------------------------------------

def out_degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per source vertex. edges: (src, dst)."""
    return edges.groupBy("src").agg(F.count("*").alias("out_degree"))


def flag_valid(reads: DataFrame, edges: DataFrame, destination: int) -> DataFrame:
    """R4: ``valid = out_degree > 0 OR read_id == destination``.

    Reference rule at assembly_final.cpp:174-176: a vertex with no
    out-edges that is not the destination is a dead end. One left join
    against the out-degree aggregate + a boolean projection; the degree
    side is map-side combined by Spark's partial aggregation, and AQE
    will broadcast it when small.
    """
    deg = out_degrees(edges)
    return (
        reads.join(deg, reads["read_id"] == deg["src"], "left")
        .withColumn(
            "valid",
            F.coalesce(F.col("out_degree"), F.lit(0)).cast("long") > 0,
        )
        .withColumn(
            "valid", F.col("valid") | (F.col("read_id") == F.lit(destination))
        )
        .drop("src", "out_degree")
    )


# ---------------------------------------------------------------------------
# phase 2 — R5/R6: per-vertex best-scoring successor (find_max_children)
# ---------------------------------------------------------------------------

def best_child(reads: DataFrame, edges: DataFrame) -> DataFrame:
    """R5: for each vertex, pick the out-neighbor with the max score.

    Reference: gather (id, score) over OUT_EDGES (assembly_final.cpp:
    264-272) then an argmax loop in apply (:298-309). Here: join the edge
    list with a 2-column projection of reads (the reference's
    ``id_and_score`` accumulator carries exactly these 2 of 8 fields,
    :186-224) and take ``max_by`` with a deterministic tie-break
    (highest score, then lowest dst id — the struct ordering value is
    unique per src, so the aggregate is deterministic).

    Returns (src, next_id). Vertices with no out-edges are absent; the
    caller fills ``next_id = 0`` (the reference's leaf sentinel, :283-288
    and init at :101).
    """
    scores = reads.select(F.col("read_id").alias("dst"), "score")
    cand = edges.join(scores, "dst")
    return cand.groupBy("src").agg(
        F.max_by(
            "dst", F.struct(F.col("score"), (-F.col("dst")).alias("neg_dst"))
        ).alias("next_id")
    )


def with_next_id(reads: DataFrame, edges: DataFrame) -> DataFrame:
    """Annotate reads with the chosen ``next_id`` (0 = leaf/none)."""
    best = best_child(reads, edges)
    return (
        reads.join(best, reads["read_id"] == best["src"], "left")
        .withColumn("next_id", F.coalesce(F.col("next_id"), F.lit(0)))
        .drop("src")
    )


def scatter_invalidation(reads_with_next: DataFrame, edges: DataFrame) -> DataFrame:
    """R6 (intended semantics): un-chosen children become ``valid=false``.

    The reference's scatter (assembly_final.cpp:316-324) meant to mark
    every out-neighbor that is not the argmax invalid; a swapped-args
    constructor bug (:317, ctor :232) made the message id garbage, and
    ``valid`` is never read downstream anyway. We implement the intended
    rule as an aggregate over edges: a vertex stays valid only if it is
    the chosen child of at least one parent, is a chain head (no
    in-edges), or was already invalid-exempt. Output column only.
    """
    chosen = reads_with_next.select(
        F.col("read_id").alias("p_id"), F.col("next_id").alias("p_next")
    )
    # for each child: was it chosen by ANY parent pointing at it?
    child_status = (
        edges.join(chosen, edges["src"] == chosen["p_id"])
        .groupBy("dst")
        .agg(F.max((F.col("dst") == F.col("p_next")).cast("int")).alias("chosen"))
    )
    return (
        reads_with_next.join(
            child_status, reads_with_next["read_id"] == child_status["dst"], "left"
        )
        .withColumn(
            "valid",
            F.col("valid")
            & (F.col("chosen").isNull() | (F.col("chosen") == 1)),
        )
        .drop("dst", "chosen")
    )


# ---------------------------------------------------------------------------
# phase 3a — path extraction along next_id (functional-graph walk)
# ---------------------------------------------------------------------------

PATH_SCHEMA = StructType(
    [StructField("pos", LongType()), StructField("read_id", LongType())]
)


def extract_path(
    reads_with_next: DataFrame,
    source: int,
    max_rounds: int = 40,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Extract the ``next_id`` chain from ``source`` as (pos, read_id).

    The reference never materializes the path — its merge program
    re-signals parents until fixpoint (O(path length) supersteps,
    assembly_final.cpp:602-619). We extract the path explicitly, with an
    adaptive physical strategy (same spirit as broadcast-vs-shuffle join
    selection):

    * **small successor table** (row count within
      :func:`~bigdatagenomic_spark.sources.local.fits_driver`'s budget
      — the same "fits in one node's memory" regime where Spark would
      broadcast it): collect the (vid → succ) map and walk the chain
      driver-side in O(L); one job instead of O(log L) shuffle rounds.
    * **large graph**: **pointer doubling** — maintain P = the first 2^k
      path positions and T = the 2^k-step successor table; each round
      appends T-shifted copies of P and squares T. O(log L) shuffles
      instead of O(L) supersteps — 17 rounds, not 100k, for a 100k-long
      chain; ``localCheckpoint`` each round cuts lineage.

    ``next_id == 0`` (or null) is the leaf sentinel (assembly_final.cpp:
    101). Cycles are cut by keeping the minimum position per vertex and
    stopping when no new vertex joins the path.
    """
    spark = reads_with_next.sparkSession
    succ = (
        reads_with_next.select(
            F.col("read_id").alias("v"), F.col("next_id").alias("s")
        )
        .where(F.col("s").isNotNull() & (F.col("s") != 0))
    )

    # strategy pick needs only an UPPER BOUND on the successor count; a
    # caller that already knows its row count (the pipeline counts reads
    # at load) passes it as the hint and saves this extra job. The bound
    # can only over-estimate, i.e. err toward pointer doubling — never
    # toward collecting too much to the driver.
    n_succ = n_rows_hint if n_rows_hint is not None else succ.count()
    if fits_driver(spark, n_succ):
        nxt = dict(succ.collect())
        order: list[tuple[int, int]] = []
        seen: set[int] = set()
        v = source
        while v is not None and v not in seen:
            order.append((len(order), v))
            seen.add(v)
            v = nxt.get(v)
        return local_frame(spark, order, PATH_SCHEMA)

    # T_k: (v, s) — s is the 2^k-step successor of v
    t = succ.localCheckpoint(eager=True)
    path = local_frame(spark, [(0, source)], PATH_SCHEMA)
    step, n_vertices = 1, 1  # the path starts as just the source
    for _ in range(max_rounds):
        # extend: every known position pos(v) spawns pos + step at T(v)
        shifted = (
            path.join(t, path["read_id"] == t["v"])
            .select((F.col("pos") + F.lit(step)).alias("pos"), F.col("s").alias("read_id"))
        )
        new_path = (
            path.unionByName(shifted)
            .groupBy("read_id")
            .agg(F.min("pos").alias("pos"))
            .select("pos", "read_id")
        ).localCheckpoint(eager=True)
        new_count = new_path.count()
        converged = new_count == n_vertices
        path, n_vertices = new_path, new_count
        if converged:
            break
        # square T: 2^k-step ∘ 2^k-step = 2^(k+1)-step
        t2 = t.select(F.col("v").alias("v2"), F.col("s").alias("mid"))
        t = (
            t2.join(t, t2["mid"] == t["v"])
            .select(F.col("v2").alias("v"), F.col("s"))
        ).localCheckpoint(eager=True)
        step *= 2
    return path.orderBy("pos")


# ---------------------------------------------------------------------------
# phase 3b — the ordered merge fold (R7, cases A1/A2/A3/B/C/D)
# ---------------------------------------------------------------------------

def _merge_step(acc: Column, x: Column, bit_compat: bool) -> Column:
    """One application of the reference's interval-merge case analysis.

    acc/x are structs (offset INT, length INT, content STRING); the
    returned struct is the merge of the accumulated sequence with the
    next read on the path. Interval ends are *inclusive*
    (``offset + length - 1``), matching every comparison in
    assembly_final.cpp:469-595 (the stored ``end = offset + length`` of
    :100 is never consulted by the merge).

    Cases (reference line spans):
      A1 :473-487  next entirely before acc (gap ≥ 0) → prepend + 'N' pad
      A2 :489-501  next covers acc → replace
      A3 :503-517  next starts before, ends inside → prepend prefix
                   (bit_compat: the reference always trims exactly 1
                   overlap base; default: trim the true overlap width)
      B  :520-556  next starts inside acc: append non-overlapped suffix
                   if it extends past acc, else no-op (:529-530)
      C  :558-569  next starts at acc's last base (1-base overlap)
      D  :571-595  next starts past acc's end (gap ≥ 0) → append + pad
    """
    o, l, c = acc["offset"], acc["length"], acc["content"]
    on, ln, cn = x["offset"], x["length"], x["content"]
    e = o + l - F.lit(1)        # inclusive end of accumulated interval
    en = on + ln - F.lit(1)     # inclusive end of next read

    gap_before = o - on - ln            # A1: bases between next's end and acc's start
    gap_after = on - o - l              # D: bases between acc's end and next's start
    # A3 prefix length: reference hard-codes ln-1 (1-base overlap assumed);
    # intended math trims the actual overlap (o - on non-overlapped bases).
    a3_prefix_len = (ln - F.lit(1)) if bit_compat else (o - on)

    is_a1 = (on + ln) <= o                       # ends before acc starts (gap ≥ 0)
    is_a2 = (on < o) & (en > e)                  # strictly covers
    is_a3 = on < o                               # remaining starts-before case
    is_b = (on >= o) & (on < e)                  # starts strictly inside
    is_b_ext = is_b & (en > e)                   # ... and extends past acc
    is_c = on == e                               # starts at acc's last base

    new_offset = F.when(on < o, on).otherwise(o)
    new_length = (
        F.when(is_a1, l + gap_before + ln)
        .when(is_a2, ln)
        .when(is_a3, l + a3_prefix_len)
        .when(is_b_ext, l + (en - e))
        .when(is_b, l)
        .when(is_c, l + ln - F.lit(1))
        .otherwise(l + gap_after + ln)           # D
    )
    new_content = (
        F.when(is_a1, F.concat(cn, F.repeat(F.lit("N"), gap_before), c))
        .when(is_a2, cn)
        .when(is_a3, F.concat(F.substring(cn, F.lit(1), a3_prefix_len), c))
        # B suffix: skip the first e+1-on overlapped bases of next
        # (reference substr pos = cur_offset+cur_length-offset_n, :541-542)
        .when(is_b_ext, F.concat(c, F.substring(cn, e - on + F.lit(2), en - e)))
        .when(is_b, c)
        .when(is_c, F.concat(c, F.substring(cn, F.lit(2), ln - F.lit(1))))
        .otherwise(F.concat(c, F.repeat(F.lit("N"), gap_after), cn))
    )
    return F.struct(
        new_offset.alias("offset"),
        new_length.alias("length"),
        new_content.alias("content"),
    )


def merge_path(
    path: DataFrame,
    reads: DataFrame,
    bit_compat: bool = False,
) -> DataFrame:
    """R7: fold the path's reads, in path order, with the merge rules.

    ``path``: (pos, read_id); ``reads`` must contain (read_id, offset,
    length, content). Returns a single row (offset, length, content).

    The fold runs as one native higher-order ``aggregate`` over the
    position-sorted struct array — whole-stage-codegen'd, no Python in
    the loop. The join that attaches read payloads to path members
    broadcasts the (small) path side, so the big reads table is neither
    shuffled nor collected.
    """
    members = (
        reads.select("read_id", "offset", "length", "content")
        .join(F.broadcast(path), "read_id")
        .select("pos", "offset", "length", "content")
    )
    arr = F.array_sort(
        F.collect_list(F.struct("pos", "offset", "length", "content"))
    )
    folded = members.agg(
        F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - F.lit(1), F.lit(0))),
            F.struct(
                F.try_element_at(arr, F.lit(1))["offset"].alias("offset"),
                F.try_element_at(arr, F.lit(1))["length"].alias("length"),
                F.try_element_at(arr, F.lit(1))["content"].alias("content"),
            ),
            lambda acc, x: _merge_step(acc, x, bit_compat),
        ).alias("merged")
    )
    return folded.select(
        F.col("merged.offset").alias("offset"),
        F.col("merged.length").alias("length"),
        F.col("merged.content").alias("content"),
    )


def merge_path_pairwise(
    path: DataFrame,
    reads: DataFrame,
    bit_compat: bool = False,
    max_rounds: int = 40,
) -> DataFrame:
    """Scale fallback for R7: log2(L) rounds of pairwise adjacent merges.

    Avoids materializing the whole path on one row: each round merges
    path element 2i with 2i+1 (both already merged intervals), halving
    the row count. Order-equivalent to the sequential fold for
    **forward-extending** chains (every read starts at/after its
    predecessor's start and extends past its end — cases B-ext/C/D),
    which is the shape real alignment chains have. For paths that
    backtrack into already-'N'-padded gaps the sequential fold is
    authoritative (its B'-no-op is not associative) — use ``merge_path``.
    """
    cur = (
        reads.select("read_id", "offset", "length", "content")
        .join(F.broadcast(path), "read_id")
        .select("pos", "offset", "length", "content")
    ).localCheckpoint(eager=True)
    n = cur.count()
    rounds = 0
    while n > 1 and rounds < max_rounds:
        arr = F.col("arr")
        grouped = cur.groupBy(
            F.floor(F.col("pos") / 2).alias("pair")
        ).agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "offset", "length", "content"))
            ).alias("arr")
        )
        merged = grouped.select(
            F.col("pair").alias("pos"),
            F.aggregate(
                F.slice(arr, 2, F.greatest(F.size(arr) - F.lit(1), F.lit(0))),
                F.struct(
                    F.try_element_at(arr, F.lit(1))["offset"].alias("offset"),
                    F.try_element_at(arr, F.lit(1))["length"].alias("length"),
                    F.try_element_at(arr, F.lit(1))["content"].alias("content"),
                ),
                lambda acc, x: _merge_step(acc, x, bit_compat),
            ).alias("m"),
        )
        cur = merged.select(
            "pos",
            F.col("m.offset").alias("offset"),
            F.col("m.length").alias("length"),
            F.col("m.content").alias("content"),
        ).localCheckpoint(eager=True)
        n = cur.count()
        rounds += 1
    return cur.select("offset", "length", "content")


# ---------------------------------------------------------------------------
# the full pipeline (reference main, assembly_final.cpp:648-748)
# ---------------------------------------------------------------------------

def assemble(
    reads: DataFrame,
    edges: DataFrame,
    source: int,
    destination: int,
    bit_compat: bool = False,
    n_reads_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run phases 1-3; returns (annotated_reads, assembled).

    ``annotated_reads``: reads + valid + next_id (what the reference's
    writer dumps per vertex, assembly_final.cpp:631-645).
    ``assembled``: single row (offset, length, content) — the source
    vertex's merged sequence (the ``result`` artifact).
    """
    flagged = flag_valid(reads, edges, destination)
    with_next = with_next_id(flagged, edges)
    annotated = scatter_invalidation(with_next, edges)
    path = extract_path(with_next, source, n_rows_hint=n_reads_hint)
    assembled = merge_path(path, reads, bit_compat=bit_compat)
    return annotated, assembled
