"""Training-data preparation operators: chunking, packing,
decontamination, incremental dedup.

The reference has no text layer (SURVEY.md §0); these are the remaining
first-class LLM-pipeline operators on top of operators/text.py,
dedup.py and curation.py — the steps between "curated corpus" and
"token batches on the trainer":

* **document chunking** — fixed-size character windows with overlap
  (``size=64, stride=48``): `sequence` + `explode` + `substring`, all
  JVM-side; one row per chunk, no Python. At 100 TB this is a narrow
  map-only stage (no shuffle at all) that fans each document out to
  its chunks.
* **sequence packing** — assign documents to fixed-token-budget packs,
  contiguously per source: a running token-count window partitioned by
  ``source`` (never a single global window, so the sort parallelizes
  across sources) with ``pack_id = floor(tokens_before / budget)``.
  First-fit-contiguous semantics: a pack may overflow by at most one
  document, the standard trade for a one-pass distributed packer.
* **decontamination** — flag training documents sharing any 8-word
  shingle with the held-out set (``doc_id % 97 == 0`` plays the eval
  split). Shingles explode to (shingle, doc) pairs; the eval shingle
  set is tiny and **broadcast**, so the training side never shuffles —
  the exact plan used to decontaminate pretraining data against
  benchmark suites.
* **incremental dedup** — drop new-batch documents whose normalized
  text already exists in the corpus (even doc_ids play the existing
  corpus, odd the new batch): left-anti join on a 60-bit text
  fingerprint, so the shuffle key is 8 bytes, not the document text.

All four are hash-checked against DuckDB oracles (registered in
queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import (
    let_bound,
    md5_long,
    normalize_text,
    tokens,
    word_shingles,
)
from bigdatagenomic_spark.sources.tables import fan_out, load_table

CHUNK_SIZE = 64
CHUNK_STRIDE = 48
PACK_BUDGET = 256
DECONTAM_N = 4  # 4-gram overlap: non-trivial at sf0.01 (8 hits), strict at scale
EVAL_MOD = 97  # doc_id % 97 == 0 -> held-out eval split


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# document chunking
# --------------------------------------------------------------------------
def chunk_documents(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """One row per (doc, chunk): substring windows of `size` every `stride`.

    chunk i covers [i*stride, i*stride+size); chunks start while
    i*stride < len(text), so the tail chunk may be short. Map-only:
    no shuffle, no Python — survives any scale the scan survives.
    """
    n = F.length("text")
    n_chunks = (F.floor((n - 1) / F.lit(stride)) + 1).cast("int")
    return (
        docs.where(n > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
            F.col("text"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.substring(
                "text", F.col("chunk_id") * stride + 1, F.lit(size)
            ).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("long"))
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(_docs(spark, sf_dir)).orderBy("doc_id", "chunk_id")


Q_TEXT_CHUNKS_SQL = f"""
WITH c AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(floor((length(text)-1)/{CHUNK_STRIDE}.0)
                              AS BIGINT) + 1)) AS chunk_id
  FROM documents WHERE length(text) > 0)
SELECT doc_id, chunk_id,
       substring(text, CAST(chunk_id*{CHUNK_STRIDE}+1 AS INT), {CHUNK_SIZE})
         AS chunk,
       CAST(length(substring(text, CAST(chunk_id*{CHUNK_STRIDE}+1 AS INT),
                             {CHUNK_SIZE})) AS BIGINT) AS chunk_len
FROM c ORDER BY doc_id, chunk_id
"""


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------
def pack_documents(docs: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Assign docs to token-budget packs, contiguous in doc_id per source.

    ``pack_id = floor(cumulative_tokens_before_this_doc / budget)``,
    with the running sum computed by
    :func:`~bigdatagenomic_spark.operators.scale.two_phase_cumsum` —
    range-partitioned partial sums + broadcast offsets, so a giant
    source never funnels into one window task (previously a per-source
    window; same values, exact long math). Token count = whitespace
    split, the convention both engines share exactly.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    base = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    cum = two_phase_cumsum(
        base,
        "n_tokens",
        [F.asc("doc_id")],
        group_cols=["source"],
        out_col="_cum",
    )
    return cum.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("pack_id"),
    )


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_documents(_docs(spark, sf_dir)).orderBy("source", "doc_id")


Q_TEXT_PACK_SQL = f"""
SELECT source, doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(floor(
         (sum(len(string_split(text, ' ')))
            OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - len(string_split(text, ' '))) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
FROM documents
ORDER BY source, doc_id
"""


# --------------------------------------------------------------------------
# decontamination vs a held-out set
# --------------------------------------------------------------------------
def decontaminate(
    docs: DataFrame, eval_docs: DataFrame, n: int = DECONTAM_N
) -> DataFrame:
    """doc_ids of training docs sharing any word n-gram with eval docs.

    The eval shingle set is distinct-ed and broadcast (eval suites are
    thousands of docs, never TB), so the training side is a map-side
    semi join: explode to shingles, probe the broadcast set, distinct
    the surviving doc_ids. No all-pairs comparison anywhere.
    """
    sh = F.explode(word_shingles(tokens(F.col("text")), n)).alias("sh")
    train_sh = docs.select("doc_id", sh)
    eval_sh = eval_docs.select(sh).distinct()
    return (
        train_sh.join(F.broadcast(eval_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )


def q_text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    return decontaminate(d.where(~is_eval), d.where(is_eval)).orderBy("doc_id")


_SHINGLE8 = (
    "list_distinct(list_transform(range(1, greatest(len(t) - "
    f"{DECONTAM_N - 1}, 1) + 1), i -> concat_ws(' ', "
    + ", ".join(f"t[i+{j}]" for j in range(DECONTAM_N))
    + ")))"
)

Q_TEXT_DECONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLE8}) AS sh FROM tok)
SELECT DISTINCT doc_id FROM sh
WHERE doc_id % {EVAL_MOD} <> 0
  AND sh IN (SELECT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# incremental dedup (new batch vs existing corpus)
# --------------------------------------------------------------------------
def dedup_against_corpus(new_batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """New-batch rows whose normalized text is NOT already in the corpus.

    Left-anti join on a 60-bit fingerprint of the normalized text: the
    shuffle moves 8-byte keys, not document bodies, and the corpus side
    is pre-distinct-ed so the join state per key is one row.
    """
    fp = md5_long(normalize_text(F.col("text"))).alias("fp")
    new_fp = new_batch.select("doc_id", fp)
    corpus_fp = corpus.select(fp).distinct()
    return new_fp.join(corpus_fp, "fp", "left_anti").select("doc_id")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    existing = d.where(F.col("doc_id") % 2 == 0)  # plays the corpus
    new_batch = d.where(F.col("doc_id") % 2 == 1)  # plays tonight's batch
    return dedup_against_corpus(new_batch, existing).orderBy("doc_id")


Q_DEDUP_INCREMENTAL_SQL = """
WITH fp AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 15))
           AS BIGINT) AS fp
  FROM documents)
SELECT doc_id FROM fp
WHERE doc_id % 2 = 1
  AND fp NOT IN (SELECT fp FROM fp WHERE doc_id % 2 = 0)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Bloom-filter incremental dedup (approximate membership against a corpus
# too large to equi-join per batch)
# --------------------------------------------------------------------------

BLOOM_M = 1 << 16  # bit positions in the sketch
BLOOM_K = 4        # hash functions per document


def _bloom_positions(norm_text):
    """K deterministic bit positions for a normalized text: salted
    md5_long mod M — replayable in SQL, no RNG state."""
    return [
        md5_long(F.concat(F.lit(f"bloom{i}|"), norm_text)) % BLOOM_M
        for i in range(BLOOM_K)
    ]


def bloom_flag_against_corpus(
    new_batch: DataFrame, corpus: DataFrame
) -> DataFrame:
    """(doc_id, maybe_dup) — Bloom-filter membership of each new-batch
    document against the corpus: maybe_dup=true iff ALL K salted-hash
    bit positions of its normalized text are set by some corpus doc.
    False positives possible (tune M/K), false negatives impossible —
    the standard cheap pre-filter in front of an exact check
    (dedup_against_corpus) when the corpus fingerprint table is too
    large to join against every nightly batch.

    Scale shape — the reason this exists: the sketch is the DISTINCT
    set-bit table, at most M = 65,536 rows NO MATTER HOW LARGE the
    corpus is (a bounded map-side-combined aggregate over corpus
    positions), and it broadcasts to the probe side, so flagging a
    batch is one scan + broadcast lookup with zero fact shuffle. The
    per-doc verdict is min(matched) over a position-explode of K=4
    8-byte keys per doc.
    """
    norm = normalize_text(F.col("text"))
    bloom = (
        corpus.select(
            F.explode(F.array(*_bloom_positions(norm))).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = new_batch.select(
        "doc_id", F.explode(F.array(*_bloom_positions(norm))).alias("pos")
    )
    return (
        probe.join(F.broadcast(bloom), "pos", "left")
        .groupBy("doc_id")
        .agg((F.min(F.coalesce("hit", F.lit(0))) == 1).alias("maybe_dup"))
    )


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # replayed-shard scenario: the corpus holds doc_id < 150 and
    # tonight's batch re-delivers 100-249, so 100-149 are true
    # members the sketch must flag (plus any false positives).
    # NULL texts are excluded up front on BOTH engines: a NULL text
    # hashes to NULL positions, which Spark's min(coalesce(hit,0))
    # reads as maybe_dup=false but DuckDB's bool_and over NULL IN
    # predicates reads as NULL (ADVICE r8) — and a NULL document has
    # no dedup meaning anyway (same contract as dsir_scores).
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    existing = d.where(F.col("doc_id") < 150)
    new_batch = d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 250))
    return bloom_flag_against_corpus(new_batch, existing).orderBy("doc_id")


_BLOOM_POS_SQL = ", ".join(
    f"CAST(('0x' || substr(md5('bloom{i}|' || nt), 1, 15)) AS BIGINT) "
    f"% {BLOOM_M}"
    for i in range(BLOOM_K)
)

Q_DEDUP_BLOOM_SQL = f"""
WITH nt AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents WHERE text IS NOT NULL),
pos AS (
  SELECT doc_id, unnest([{_BLOOM_POS_SQL}]) AS pos FROM nt),
bloom AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 150)
SELECT doc_id,
       bool_and(pos IN (SELECT pos FROM bloom)) AS maybe_dup
FROM pos WHERE doc_id >= 100 AND doc_id < 250
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# snapshot diff (incremental-pipeline primitive)
# --------------------------------------------------------------------------
def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str], compare_cols: list[str]
) -> DataFrame:
    """Row-level diff of two table snapshots: added / removed / changed.

    Each side is reduced to (key, content-hash) BEFORE the join, so the
    full-outer shuffle carries fixed-width rows no matter how wide the
    snapshot is — at 100 TB the join state per key is two 8-byte-ish
    values, and unchanged rows (the overwhelming majority of a daily
    snapshot pair) are filtered right after the join without ever
    materializing their payload. Nulls inside compare columns are
    sentinel-tagged so NULL vs '' vs missing-column-value all hash
    differently.
    """
    def hashed(df: DataFrame, side: str) -> DataFrame:
        content = F.md5(
            F.concat_ws(
                "\x01",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in compare_cols
                ],
            )
        )
        return df.select(
            *[F.col(k).alias(f"{side}_{k}") for k in key_cols],
            content.alias(f"{side}_hash"),
        )

    o = hashed(old, "o")
    n = hashed(new, "n")
    cond = [o[f"o_{k}"] == n[f"n_{k}"] for k in key_cols]
    joined = o.join(n, cond, "full_outer")
    status = (
        F.when(o["o_hash"].isNull(), F.lit("added"))
        .when(n["n_hash"].isNull(), F.lit("removed"))
        .when(o["o_hash"] != n["n_hash"], F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", status)
        .where(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(n[f"n_{k}"], o[f"o_{k}"]).alias(k)
                for k in key_cols
            ],
            "change_type",
        )
    )


SNAP_DROP_MOD = 10  # doc_id % 10 == 0 rows exist only in the OLD snapshot
SNAP_ADD_MOD = 7  # doc_id % 7 == 0 rows exist only in the NEW snapshot
SNAP_EDIT_MOD = 5  # doc_id % 5 == 0 surviving rows get edited text


def q_x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two deterministic snapshots derived from `documents`: the
    old snapshot drops every 7th doc, the new drops every 10th and
    rewrites every 5th surviving text — so the result exercises all
    three change types at once."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    old = d.where(F.col("doc_id") % SNAP_ADD_MOD != 0)
    new = d.where(F.col("doc_id") % SNAP_DROP_MOD != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % SNAP_EDIT_MOD == 0,
            F.concat(F.lit("edited: "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, ["doc_id"], ["text", "source"]).orderBy(
        "change_type", "doc_id"
    )


Q_X_SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % {SNAP_ADD_MOD} <> 0
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % {SNAP_EDIT_MOD} = 0
              THEN 'edited: ' || text ELSE text END AS text,
         source
  FROM documents WHERE doc_id % {SNAP_DROP_MOD} <> 0
), o AS (
  SELECT doc_id, md5(coalesce(text, chr(0) || 'null') || chr(1) ||
                     coalesce(source, chr(0) || 'null')) AS h FROM old
), n AS (
  SELECT doc_id, md5(coalesce(text, chr(0) || 'null') || chr(1) ||
                     coalesce(source, chr(0) || 'null')) AS h FROM new
)
SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed' END AS change_type
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE (CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed' END) IS NOT NULL
ORDER BY change_type, doc_id
"""


# --------------------------------------------------------------------------
# weighted corpus mixing
# --------------------------------------------------------------------------
def mix_corpus(docs: DataFrame, rates: dict[str, int] | None = None) -> DataFrame:
    """Deterministic weighted sampling per source — corpus mixing.

    A training mix assigns each source a keep-rate (percent); membership
    is decided by a hash of (source, doc_id), so the sample is stable
    across reruns, executors, and engines — no RNG, no state. Map-only:
    the mix of a 100 TB corpus costs exactly one scan. With no rate
    table (None or empty), every source gets a hash-derived 25–75%
    rate; with rates given, sources missing from the table default to
    50%, so a new source entering the pipeline is sampled, never
    dropped.
    """
    if not rates:  # None or {} — no per-source table, use the hash rate
        rate = F.pmod(md5_long(F.col("source")), F.lit(51)) + 25  # 25..75%
    else:
        chain = None
        for src, r in rates.items():
            cond = F.col("source") == src
            chain = F.when(cond, F.lit(r)) if chain is None else chain.when(cond, F.lit(r))
        rate = chain.otherwise(F.lit(50))
    bucket = F.pmod(
        md5_long(F.concat_ws("\x01", F.col("source"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    return (
        docs.withColumn("keep_rate", rate)
        .where(bucket < F.col("keep_rate"))
        .select("doc_id", "source", F.col("keep_rate").cast("int").alias("keep_rate"))
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_corpus(_docs(spark, sf_dir)).orderBy("doc_id")


_H_SQL = "CAST(('0x' || substr(md5({x}),1,15)) AS BIGINT)"

Q_CORPUS_MIX_SQL = f"""
WITH r AS (
  SELECT doc_id, source,
         {_H_SQL.format(x='source')} % 51 + 25 AS keep_rate,
         {_H_SQL.format(x="concat_ws(chr(1), source, CAST(doc_id AS VARCHAR))")} % 100
           AS bucket
  FROM documents
)
SELECT doc_id, source, CAST(keep_rate AS INT) AS keep_rate
FROM r WHERE bucket < keep_rate ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# boilerplate scrub (segment-level cross-document dedup)
# --------------------------------------------------------------------------
SEG_W = 3  # words per segment
BOILER_MAX_DOCS = 4  # a segment in > this many distinct docs is boilerplate


def word_segments(tok: Column, w: int = SEG_W) -> Column:
    """Non-overlapping w-word segments of a token array, in order.

    Segment i covers tokens [i*w+1, i*w+w] (1-based slice); the tail
    segment may be short. The input expression is let-bound so a
    composed tokenizer is evaluated once per row, not once per segment.
    """

    def body(t: Column) -> Column:
        idx = F.sequence(
            F.lit(0), F.floor((F.size(t) - 1) / F.lit(float(w))).cast("int")
        )
        return F.transform(
            idx, lambda i: F.array_join(F.slice(t, i * w + 1, F.lit(w)), " ")
        )

    return let_bound(tok, body)


def boilerplate_scrub(
    docs: DataFrame, w: int = SEG_W, max_docs: int = BOILER_MAX_DOCS
) -> DataFrame:
    """C4/RefinedWeb-style cross-document boilerplate removal: drop every
    w-word segment that appears verbatim in more than ``max_docs``
    distinct documents (nav bars, cookie banners, license footers), then
    reassemble each document from its surviving segments in order.

    100 TB shape: the corpus-wide frequency pass shuffles only
    (doc_id, seg_id, h1, h2) — 32-byte rows, never segment text. The
    boilerplate set is identified by an aggregate on a 120-bit segment
    fingerprint (two independent 60-bit md5 halves — at ~1e12 distinct
    segments the expected birthday-collision count is ~4e-13, vs ~1e5
    falsely-merged frequency rows for a single 60-bit hash); survivors
    fold back to a per-doc sorted seg_id list, and the final join
    against the original documents re-derives segment text locally
    from the token array (no text ever crosses a shuffle boundary
    twice). Both joins are key-equi; no cartesian anywhere.

    Sub-w TAIL segments are excluded from the frequency count (and can
    never be scrubbed): a 1-2 word tail is a partial span, and common
    short words at document ends ('the', 'com') are not boilerplate —
    the C4-style rule counts full w-word spans only. Tails are still
    reassembled in place.
    """
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).where(F.size("t") > 0)
    seg = toks.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.posexplode(word_segments(F.col("t"), w)).alias("seg_id", "seg"),
    ).select(
        "doc_id",
        "seg_id",
        md5_long(F.col("seg")).alias("h1"),
        md5_long(F.concat(F.lit("\x02"), F.col("seg"))).alias("h2"),
        (((F.col("seg_id") + 1) * w) <= F.col("n_tok")).alias("is_full"),
    )
    # Distinct-doc frequency as ONE window pass (round 14): the old
    # groupBy(count_distinct) -> left-anti shape consumed the
    # fingerprint table twice (pinned with a checkpoint to avoid 6
    # corpus tokenizes), then shuffled it again for the anti-join. A
    # dense_rank over doc_id within the fingerprint partition followed
    # by its partition max IS count(DISTINCT doc_id) — one exchange of
    # the 32-byte rows, one sort, no checkpoint, no join-back, and it
    # streams (no per-row set state), so a nav-bar segment hot in 1e6
    # docs costs a sort, not memory. Partitioning adds is_full so a
    # sub-w TAIL can never be scrubbed (the C4-style rule counts full
    # w-word spans only) — textually a tail (<w words) can never equal
    # a full segment anyway, so this only removes the 2^-120 md5-
    # collision corner the anti-join tolerated.
    from pyspark.sql import Window as W

    wspec = W.partitionBy("h1", "h2", "is_full")
    nd = F.max(F.dense_rank().over(wspec.orderBy("doc_id"))).over(
        wspec.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    kept = (
        seg.withColumn("_nd", nd)
        .where(~(F.col("is_full") & (F.col("_nd") > max_docs)))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("seg_id")).alias("keep_ids"),
            F.count("*").cast("long").alias("n_kept"),
        )
    )
    n_seg = (F.floor((F.size("t") - 1) / F.lit(float(w))) + 1).cast("long")
    rebuild = F.array_join(
        F.transform(
            F.coalesce(F.col("keep_ids"), F.array().cast("array<int>")),
            lambda i: F.array_join(F.slice(F.col("t"), i * w + 1, F.lit(w)), " "),
        ),
        " ",
    )
    return toks.join(kept, "doc_id", "left").select(
        "doc_id",
        n_seg.alias("n_seg"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        rebuild.alias("clean_text"),
    )


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_scrub(_docs(spark, sf_dir)).orderBy("doc_id")


Q_TEXT_BOILERPLATE_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL),
seg AS (
  SELECT doc_id, CAST(i AS INT) AS seg_id, len(t) AS n_tok,
         array_to_string(t[(i*{SEG_W}+1):(i*{SEG_W}+{SEG_W})], ' ') AS seg
  FROM tok, unnest(range(0, CAST(floor((len(t)-1)/{SEG_W}.0) AS BIGINT) + 1))
         AS u(i)
  WHERE len(t) > 0),
boiler AS (
  SELECT seg FROM seg WHERE (seg_id + 1) * {SEG_W} <= n_tok
  GROUP BY seg
  HAVING count(DISTINCT doc_id) > {BOILER_MAX_DOCS}),
kept AS (
  SELECT doc_id, list_sort(list(seg_id)) AS keep_ids,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM seg WHERE seg NOT IN (SELECT seg FROM boiler)
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(floor((len(t.t)-1)/{SEG_W}.0) + 1 AS BIGINT) AS n_seg,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(array_to_string(
         list_transform(k.keep_ids,
           i -> array_to_string(t.t[(i*{SEG_W}+1):(i*{SEG_W}+{SEG_W})], ' ')),
         ' '), '') AS clean_text
FROM tok t LEFT JOIN kept k USING (doc_id)
WHERE len(t.t) > 0
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# deterministic training-shard assignment (global shuffle for training order)
# --------------------------------------------------------------------------
N_SHARDS = 8
SHARD_SEED = "r5"


def assign_shards(
    docs: DataFrame, n_shards: int = N_SHARDS, seed: str = SHARD_SEED
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training.

    Training wants documents in a pseudo-random order, reproducible
    across reruns and resumable mid-epoch — so the order is a HASH, not
    an RNG: ``order_key = h(seed, doc_id)``, ``shard = order_key mod
    n_shards``, ``pos`` = rank within the shard. Changing the seed
    reshuffles the epoch; changing nothing replays it byte-identically.

    100 TB shape: the hash and shard columns are map-only; the
    per-shard position is scale.two_phase_rank. A corpus within the
    driver budget is ranked by the plain per-shard window over one
    partition; a larger one goes TWO-PHASE, so a shard never funnels
    into a single window task — corpus/n_shards rows per shard split
    across range partitions whatever n_shards is (VERDICT r5 #6: a
    per-shard row_number window at any size made the default
    n_shards=8 a hot-partition foot-gun). Output is identical either
    way; still pick n_shards ≈ number of trainer data-loader workers
    so the SHARDS themselves balance the loaders.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    key = md5_long(
        F.concat(F.lit(seed), F.lit(":"), F.col("doc_id").cast("string"))
    )
    base = docs.select(
        "doc_id",
        key.alias("order_key"),
        F.pmod(key, F.lit(n_shards)).cast("long").alias("shard"),
    )
    ranked = two_phase_rank(
        base,
        [F.asc("order_key"), F.asc("doc_id")],
        group_cols=["shard"],
        rank_col="_rk",
    )
    return ranked.withColumn("pos", (F.col("_rk") - 1).cast("long")).drop("_rk")


def q_x_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign_shards(_docs(spark, sf_dir)).orderBy("doc_id")


Q_X_TRAIN_SHARDS_SQL = f"""
WITH k AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('{SHARD_SEED}:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS order_key
  FROM documents)
SELECT doc_id, order_key,
       order_key % {N_SHARDS} AS shard,
       CAST(row_number() OVER (PARTITION BY order_key % {N_SHARDS}
                               ORDER BY order_key, doc_id) - 1
            AS BIGINT) AS pos
FROM k ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# token-budget corpus mixing (per-source TOKEN budgets, not doc counts)
# --------------------------------------------------------------------------
TOKEN_BUDGET_PER_SOURCE = 2000


def token_budget_mix(
    docs: DataFrame, budget: int = TOKEN_BUDGET_PER_SOURCE
) -> DataFrame:
    """Per-source TOKEN-budget sampling — the mixture recipe LLM
    pretraining actually specifies ("30B tokens of web, 5B of code"),
    vs q_corpus_mix's per-DOC keep rates. Docs are taken in a
    deterministic hash order within each source until the source's
    cumulative token count would exceed the budget (greedy prefix,
    inclusive bound — the doc that crosses the line is dropped).

    100 TB shape: token counting is map-only; the cumulative sum is
    :func:`~bigdatagenomic_spark.operators.scale.two_phase_cumsum`. A
    corpus within the driver budget runs the plain per-source window
    over one partition; a larger one gets range-partitioned partial
    sums + broadcast offsets, so no source ever funnels into a single
    window task (the naive per-source running-sum window is exactly
    the hot-partition the zipf / train-shards fixes removed). Integral
    token counts keep the two-phase sum exact.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        md5_long(
            F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
        ).alias("order_key"),
    )
    cum = two_phase_cumsum(
        base,
        "n_tok",
        [F.asc("order_key"), F.asc("doc_id")],
        group_cols=["source"],
        out_col="cum_tok",
    )
    return (
        cum.where(F.col("cum_tok") <= budget)
        .select("doc_id", "source", "n_tok", "cum_tok")
        .orderBy("source", "doc_id")
    )


def q_x_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_mix(_docs(spark, sf_dir))


Q_X_TOKEN_BUDGET_MIX_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS order_key
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source
                               ORDER BY order_key, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
  FROM t
)
SELECT doc_id, source, n_tok, cum_tok
FROM c WHERE cum_tok <= {TOKEN_BUDGET_PER_SOURCE}
ORDER BY source, doc_id
"""

# --------------------------------------------------------------------------
# exact duplicated-span detection (ExactSubstr-style, overlapping w-grams)
# --------------------------------------------------------------------------
SPAN_W = 8  # tokens per span (Lee et al. 2021 use 50 BPE tokens; scaled down)


def duplicated_spans(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """ExactSubstr-style duplicated-span profiling: for every document,
    count the OVERLAPPING w-token spans whose text occurs more than once
    anywhere in the corpus (any other doc, or again in the same doc),
    and the number of tokens covered by the union of those spans —
    the quantity "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2021) trims. Complements q_text_boilerplate:
    that scrubs NON-overlapping segments seen in >max_docs documents;
    this one measures verbatim reuse at every token offset, the
    signal used to cut memorization-prone training text.

    100 TB shape: overlapping spans mean ~n_tok rows per doc through
    the frequency shuffle — that factor-w over the segment pass is the
    irreducible cost of offset-exact detection, so the shuffled rows
    carry ONLY (doc_id, pos, h1, h2) (28 bytes), never span text. The
    occurrence count is a ``count(*)`` WINDOW over the fingerprint
    (round 14): the previous groupBy→left-semi→join-back shape
    consumed the fingerprint table twice AND re-tokenized the corpus a
    second time for the per-doc base row, so the corpus crossed the
    tokenizer twice and the fingerprints crossed the wire three times;
    the window shuffles them by (h1, h2) exactly once and every
    per-doc quantity folds out of the same pass (n_spans is the span
    count, n_tok rides along, dup starts collect under the occ > 1
    flag). The span identity is a 120-bit fingerprint (two independent
    60-bit md5 halves), so corpus-scale birthday collisions are
    negligible (~1e-13 expected pairs at 1e12 spans). Union coverage
    folds row-locally from each doc's sorted start offsets
    (adjacent-gap fold, no second shuffle).
    """
    from pyspark.sql import Window as W

    from bigdatagenomic_spark.sources.tables import fan_out

    toks = (
        fan_out(docs.where(F.col("text").isNotNull()))
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= w)
    )
    spans = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tok"),
        F.posexplode(
            let_bound(
                F.col("t"),
                lambda t: F.transform(
                    F.sequence(F.lit(0), F.size(t) - w),
                    lambda i: F.array_join(F.slice(t, i + 1, F.lit(w)), " "),
                ),
            )
        ).alias("pos", "span"),
    ).select(
        "doc_id",
        "n_tok",
        "pos",
        md5_long(F.col("span")).alias("h1"),
        md5_long(F.concat(F.lit("\x02"), F.col("span"))).alias("h2"),
    )
    occ = F.count("*").over(W.partitionBy("h1", "h2"))
    perdoc = (
        spans.withColumn("is_dup", occ > 1)
        .groupBy("doc_id")
        .agg(
            F.max("n_tok").alias("n_tok"),
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup_spans"),
            # collect_list skips the NULLs the when() leaves on non-dup rows
            F.sort_array(
                F.collect_list(F.when(F.col("is_dup"), F.col("pos")))
            ).alias("ps"),
        )
    )
    ps = F.col("ps")
    # union coverage of sorted starts, each span covering [p, p+w-1]:
    # sum over adjacent pairs of min(w, gap) plus w for the last span
    cov = (
        F.aggregate(
            F.zip_with(
                F.slice(ps, 1, F.size(ps) - 1),
                F.slice(ps, 2, F.size(ps) - 1),
                lambda a, b: F.least(F.lit(w), b - a),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        + w
    ).cast("long")
    return perdoc.select(
        "doc_id",
        "n_tok",
        "n_spans",
        "n_dup_spans",
        F.coalesce(F.when(F.size(ps) > 0, cov), F.lit(0).cast("long")).alias(
            "dup_tokens"
        ),
        F.round(
            F.coalesce(F.when(F.size(ps) > 0, cov), F.lit(0).cast("long"))
            / F.col("n_tok").cast("double"),
            4,
        ).alias("dup_ratio"),
    )


def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_spans(_docs(spark, sf_dir)).orderBy("doc_id")


Q_TEXT_DUP_SPANS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL),
span AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(t[(i+1):(i+{SPAN_W})], ' ') AS span
  FROM tok, unnest(range(0, len(t) - {SPAN_W} + 1)) u(i)
  WHERE len(t) >= {SPAN_W}),
dup AS (
  SELECT span FROM span GROUP BY span HAVING count(*) > 1),
perdoc AS (
  SELECT doc_id, list_sort(list(pos)) AS ps,
         CAST(count(*) AS BIGINT) AS n_dup_spans
  FROM span WHERE span IN (SELECT span FROM dup)
  GROUP BY doc_id),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
         CAST(len(t) - {SPAN_W} + 1 AS BIGINT) AS n_spans
  FROM tok WHERE len(t) >= {SPAN_W}),
cov AS (
  SELECT doc_id, n_dup_spans,
         CAST(coalesce(list_sum(list_transform(range(1, len(ps)),
                j -> least({SPAN_W}, ps[CAST(j AS INT)+1] - ps[CAST(j AS INT)]))), 0)
              + {SPAN_W} AS BIGINT) AS dup_tokens
  FROM perdoc)
SELECT b.doc_id, b.n_tok, b.n_spans,
       coalesce(c.n_dup_spans, 0) AS n_dup_spans,
       coalesce(c.dup_tokens, 0) AS dup_tokens,
       round(coalesce(c.dup_tokens, 0) / CAST(b.n_tok AS DOUBLE), 4)
         AS dup_ratio
FROM base b LEFT JOIN cov c USING (doc_id)
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# temperature-scaled source mixing (multilingual/source re-balancing)
# --------------------------------------------------------------------------
TEMP_SAMPLE_NUM, TEMP_SAMPLE_DEN = 1, 2  # sample 1/2 of the corpus overall


def temperature_mix(
    docs: DataFrame,
    frac_num: int = TEMP_SAMPLE_NUM,
    frac_den: int = TEMP_SAMPLE_DEN,
) -> DataFrame:
    """Temperature-scaled source sampling (alpha = 0.5): pick an overall
    ``frac_num/frac_den`` of the corpus, but allocate each source a
    budget proportional to n_i^alpha rather than n_i — the standard
    re-balancing that up-weights small sources/languages (mT5/XLM-R
    style p_i ∝ p_i^alpha). Docs fill each source's budget in a
    deterministic hash order, so the sample replays byte-identically.

    Determinism across engines is engineered, not assumed: the weight
    w_i = floor(sqrt(n_i) * 1000) is computed from one correctly-rounded
    double sqrt of an exact integer (identical in every IEEE-754 engine)
    and immediately floored to a BIGINT; budgets are then pure integer
    arithmetic ``(total * w_i * frac_num) div (frac_den * sum_w)``, so
    no float summation order can flip a floor. At extreme corpus sizes
    the product needs a 128-bit intermediate (Spark DECIMAL(38,0) /
    DuckDB HUGEINT) — a numeric-width note, not a plan change.

    100 TB shape: the per-source stats are one tiny aggregate (|sources|
    rows) broadcast back; the per-source pick order is a TWO-PHASE rank
    (operators/scale.py) so no source funnels into a single window task.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    base = docs.select(
        "doc_id",
        "source",
        md5_long(
            F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))
        ).alias("order_key"),
    )
    stats = base.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("long")
    totals = stats.select(w.alias("w"), "n_docs").agg(
        F.sum("w").alias("sum_w"), F.sum("n_docs").alias("n_total")
    )
    budgets = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.expr(
                f"CAST((n_total * FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000)"
                f" * {frac_num}) div ({frac_den} * sum_w) AS BIGINT)"
            ).alias("budget"),
        )
    )
    ranked = two_phase_rank(
        base,
        [F.asc("order_key"), F.asc("doc_id")],
        group_cols=["source"],
        rank_col="pick_rank",
    )
    return (
        ranked.join(F.broadcast(budgets), "source")
        .where(F.col("pick_rank") <= F.col("budget"))
        .select("doc_id", "source", "pick_rank", "budget")
    )


def q_x_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_mix(_docs(spark, sf_dir)).orderBy("source", "doc_id")


Q_X_TEMPERATURE_MIX_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         {_H_SQL.format(x="'tmix:' || CAST(doc_id AS VARCHAR)")} AS order_key
  FROM documents),
stats AS (
  SELECT source, count(*) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT) AS w
  FROM base GROUP BY source),
tot AS (
  SELECT sum(w) AS sum_w, sum(n_docs) AS n_total FROM stats),
budgets AS (
  SELECT s.source,
         CAST((t.n_total * s.w * {TEMP_SAMPLE_NUM})
              // ({TEMP_SAMPLE_DEN} * t.sum_w) AS BIGINT) AS budget
  FROM stats s, tot t),
ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY order_key, doc_id) AS BIGINT)
           AS pick_rank
  FROM base)
SELECT r.doc_id, r.source, r.pick_rank, b.budget
FROM ranked r JOIN budgets b USING (source)
WHERE r.pick_rank <= b.budget
ORDER BY r.source, r.doc_id
"""

# --------------------------------------------------------------------------
# ML feature prep: hashing-trick features + frequency label indexing
# --------------------------------------------------------------------------
FEATURE_BUCKETS = 256


def feature_hash(docs: DataFrame, n_buckets: int = FEATURE_BUCKETS) -> DataFrame:
    """(doc_id, bucket, weight) — the hashing trick: each token is
    hashed into one of ``n_buckets`` feature slots, weights are the
    per-doc slot counts. Sparse long format on purpose: a dense
    n_buckets-wide vector per doc is what a trainer materializes
    LOCALLY; at corpus scale the engine should move only occupied
    (doc, slot) cells (vocabulary-free, collision-tolerant — the
    standard Weinberger et al. 2009 trade).

    Map-only explode + one map-side-combined count shuffle; no
    vocabulary table, no fit step, nothing to broadcast.
    """
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .select(
            "doc_id",
            F.pmod(md5_long(F.col("word")), F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def q_x_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feature_hash(_docs(spark, sf_dir)).orderBy("doc_id", "bucket")


Q_X_FEATURE_HASH_SQL = f"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS word
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       {_H_SQL.format(x='word')} % {FEATURE_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS weight
FROM w GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
"""


def label_index(df: DataFrame, col: str) -> DataFrame:
    """(label, n_rows, idx) — frequency-ordered categorical indexing
    (the StringIndexer fit step): most frequent label gets 0, ties
    break on the label itself. The index is a TWO-PHASE rank over the
    label-frequency table, so an unbounded category domain (user ids,
    URLs) never funnels into one window task; downstream encoding is a
    broadcast/equi-join of this table against the raw column.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    counts = df.groupBy(F.col(col).alias("label")).agg(
        F.count("*").alias("n_rows")
    )
    ranked = two_phase_rank(
        counts,
        [F.desc("n_rows"), F.asc("label")],
        rank_col="_rk",
    )
    return ranked.select(
        "label", "n_rows", (F.col("_rk") - 1).cast("long").alias("idx")
    )


def q_x_label_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_index(_docs(spark, sf_dir), "source").orderBy("idx")


Q_X_LABEL_INDEX_SQL = """
SELECT source AS label, count(*) AS n_rows,
       CAST(row_number() OVER (ORDER BY count(*) DESC, source) - 1 AS BIGINT)
         AS idx
FROM documents GROUP BY source ORDER BY idx
"""

# --------------------------------------------------------------------------
# length-bucketed batch assignment (padding-efficient training batches)
# --------------------------------------------------------------------------
LEN_BUCKET_W = 64        # tokens per length bucket
BATCH_TOKEN_BUDGET = 512  # token budget per batch within a bucket


def length_batches(
    docs: DataFrame,
    bucket_w: int = LEN_BUCKET_W,
    budget: int = BATCH_TOKEN_BUDGET,
) -> DataFrame:
    """(doc_id, n_tok, bucket, batch) — group docs into LENGTH buckets
    (floor(n_tok / bucket_w)) and cut each bucket into batches of
    ~budget tokens: batching similar-length sequences together is how
    training loops keep padding waste down (docs in one batch differ
    by < bucket_w tokens). Deterministic order inside a bucket
    (doc_id), batch boundary where the cumulative END token lands.

    Both the bucket id (integer division, map-only) and the in-bucket
    running token count (scale.two_phase_cumsum, grouped by bucket)
    avoid any single-partition step — a 100 TB corpus's biggest length
    bucket is still range-partitioned across the cluster.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    ).select(
        "doc_id",
        "n_tok",
        F.expr(f"CAST(n_tok div {bucket_w} AS BIGINT)").alias("bucket"),
    )
    cum = two_phase_cumsum(
        base,
        "n_tok",
        [F.asc("doc_id")],
        group_cols=["bucket"],
        out_col="_ct",
    )
    return cum.select(
        "doc_id",
        "n_tok",
        "bucket",
        F.expr(f"CAST((_ct - 1) div {budget} AS BIGINT)").alias("batch"),
    )


def q_x_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_batches(_docs(spark, sf_dir)).orderBy("doc_id")


Q_X_LENGTH_BATCHES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL),
b AS (
  SELECT doc_id, n_tok, n_tok // {LEN_BUCKET_W} AS bucket FROM t),
c AS (
  SELECT doc_id, n_tok, bucket,
         CAST(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _ct
  FROM b)
SELECT doc_id, n_tok, bucket, (_ct - 1) // {BATCH_TOKEN_BUDGET} AS batch
FROM c ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# DSIR-style importance selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling")
# --------------------------------------------------------------------------
DSIR_BUCKETS = 64       # hashed-unigram feature slots (paper: hashed n-grams)
DSIR_TARGET = "src0"    # stand-in "high-quality target domain" source


def dsir_scores(
    docs: DataFrame,
    target_source: str = DSIR_TARGET,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Score every RAW-pool document by its hashed-feature importance
    log-ratio against a target domain — the DSIR selection signal: a
    bag-of-hashed-unigrams model of the target (docs from
    ``target_source``) vs the raw pool (everything else), add-1
    smoothed; a document whose tokens look more target-like than
    raw-like scores positive and is selected.

    Integer-exact by construction: the per-bucket log weight is
    quantized ONCE (a 64-row table), and each document's score is the
    exact BIGINT sum of its tokens' quantized weights — no float
    aggregate ever crosses the engine boundary (the
    round-half-up-over-grid-averages gotcha from the round-5
    preflight). The quantization itself is ulp-guarded (ADVICE r8):
    the only op whose result can differ between JVM ``Math.log`` and
    libm ``ln`` is the transcendental, so the log-ratio is snapped at
    the COARSE 1e-4 grid — ``floor(1e4*lnratio + 0.5)`` — where a
    1-ulp disagreement (abs ~1e-15) has 100x fewer boundaries to
    straddle than a direct micro-nat floor, and every op after the
    snap is exact integer arithmetic (``w_micro = 100 * snapped``),
    bit-identical by construction. ``selected = sum > 0`` is the
    sign-equivalent of the paper's positive mean log importance;
    full DSIR resamples ~ exp(score), which preserves the same
    ordering.

    Scale shape: tokenize+hash is map-only; the model is two
    ``n_buckets``-bounded aggregates plus two 1-row totals (broadcast
    scalar crossJoins, the tfidf/pmi allowlisted pattern); scoring is
    one broadcast equi-join on the bucket key and one map-side-combined
    per-doc sum. Nothing shuffles wider than (doc_id, bucket).

    Returns (doc_id, n_tokens, sum_w_micro, selected) for raw-pool
    docs with at least one token.
    """
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.explode(tokens(F.col("text"))).alias("word"),
        )
        .select(
            "doc_id",
            "source",
            F.pmod(md5_long(F.col("word")), F.lit(n_buckets)).alias("bucket"),
        )
    )
    tgt = toks.where(F.col("source") == target_source)
    raw = toks.where(F.col("source") != target_source)
    tgt_b = tgt.groupBy("bucket").agg(F.count("*").alias("t_cnt"))
    raw_b = raw.groupBy("bucket").agg(F.count("*").alias("r_cnt"))
    tgt_tot = tgt.agg(F.count("*").alias("t_tot"))
    raw_tot = raw.agg(F.count("*").alias("r_tot"))
    b_ids = docs.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    lnratio = (
        F.log(F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(1.0))
        - F.log(F.col("t_tot") + F.lit(float(n_buckets)))
        - F.log(F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(1.0))
        + F.log(F.col("r_tot") + F.lit(float(n_buckets)))
    )
    w = (
        b_ids.join(tgt_b, "bucket", "left")
        .join(raw_b, "bucket", "left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .select(
            "bucket",
            (
                F.lit(100)
                * F.floor(F.lit(1e4) * lnratio + F.lit(0.5)).cast("long")
            ).alias("w_micro"),
        )
    )
    return (
        raw.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_micro").cast("long").alias("sum_w_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_w_micro",
            (F.col("sum_w_micro") > 0).cast("int").alias("selected"),
        )
    )


def q_x_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_scores(_docs(spark, sf_dir)).orderBy("doc_id")


Q_X_DSIR_SELECT_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         ({_H_SQL.format(x='word')}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, source,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  t -> t <> '')) AS word
        FROM documents WHERE text IS NOT NULL)
), tgt AS (SELECT bucket FROM toks WHERE source = '{DSIR_TARGET}'),
raw AS (SELECT doc_id, bucket FROM toks WHERE source <> '{DSIR_TARGET}'),
tb AS (SELECT bucket, count(*) AS t_cnt FROM tgt GROUP BY bucket),
rb AS (SELECT bucket, count(*) AS r_cnt FROM raw GROUP BY bucket),
tt AS (SELECT count(*) AS t_tot FROM tgt),
rt AS (SELECT count(*) AS r_tot FROM raw),
b AS (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket),
w AS (SELECT b.bucket,
             100 * CAST(floor(10000.0 * (
                    ln(coalesce(t_cnt, 0) + 1.0)
                  - ln(t_tot + {DSIR_BUCKETS}.0)
                  - ln(coalesce(r_cnt, 0) + 1.0)
                  + ln(r_tot + {DSIR_BUCKETS}.0)) + 0.5) AS BIGINT)
               AS w_micro
      FROM b LEFT JOIN tb USING (bucket) LEFT JOIN rb USING (bucket)
      CROSS JOIN tt CROSS JOIN rt)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w_micro) AS BIGINT) AS sum_w_micro,
       CAST(CASE WHEN sum(w_micro) > 0 THEN 1 ELSE 0 END AS INT) AS selected
FROM raw JOIN w USING (bucket)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# fuzzy eval-set decontamination (MinHash-LSH candidates + exact verify)
# ---------------------------------------------------------------------------

DECON_FUZZY_MOD = 19  # doc_id % 19 == 0 -> held-out eval split
# (19 splits at least one planted near-dup pair at BOTH sf0.001 and
# sf0.01, so the driver row and the pytest row are both non-trivial;
# 41 left the sf0.01 result empty)
DECON_FUZZY_THRESHOLD = 0.5  # shingle-Jaccard above this = contaminated


def q_x_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train/eval decontamination: near-duplicate matches between
    the training pool and a held-out eval split.

    q_text_decontam catches EXACT n-gram overlap; this is the fuzzy
    sibling (the GPT-3/Llama-style 'dirty-dedup' audit): MinHash-LSH
    band keys propose train-x-eval candidates, exact shingle Jaccard
    confirms. Reuses the q_dedup_minhash_pairs machinery end-to-end —
    map-only signatures, a NARROW (band, bkey, doc_id) equi-join that
    only pairs docs sharing a 16-bit band signature (never train x eval
    all-pairs), and an array_intersect verify that shuffles
    |candidates| rows. At 100 TB the eval side is tiny and broadcasts;
    train-side cost is one signature scan — the same economics that
    make the dedup pass scale.

    Output: (train_id, eval_id, jacc) for every confirmed contaminated
    pair at the rounded-grid threshold.
    """
    from bigdatagenomic_spark.operators.dedup import (
        _jaccard_verify,
        _shingle_base,
        lsh_band_table,
    )

    d = fan_out(load_table(spark, sf_dir, "documents"))
    is_eval = (F.col("doc_id") % DECON_FUZZY_MOD) == 0
    tb = lsh_band_table(d.where(~is_eval)).select(
        F.col("doc_id").alias("a_id"), "band", "bkey"
    )
    eb = lsh_band_table(d.where(is_eval)).select(
        F.col("doc_id").alias("b_id"), "band", "bkey"
    )
    cand = tb.join(eb, ["band", "bkey"]).select("a_id", "b_id").dropDuplicates()
    verified = _jaccard_verify(cand, _shingle_base(d))
    return (
        verified.where(F.col("jacc") >= DECON_FUZZY_THRESHOLD)
        .select(
            F.col("a_id").alias("train_id"),
            F.col("b_id").alias("eval_id"),
            "jacc",
        )
        .orderBy("train_id", "eval_id")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (CDC — storage-level dedup primitive)
# ---------------------------------------------------------------------------

CDC_W = 16   # rolling window (chars)
CDC_DIV = 64  # boundary when window-hash % CDC_DIV == 0 -> ~64-char chunks
CDC_M = 1048573  # window-hash modulus (20-bit prime)
CDC_B = 131      # polynomial base
# fixed per-offset weights B^(W-1-i) mod M: 16 codepoint*weight products
# each < 2^41 (codepoint < 2^21, weight < 2^20), so the un-reduced
# 16-term sum < 2^45 stays comfortably inside BIGINT on every engine
CDC_POW = [pow(CDC_B, CDC_W - 1 - i, CDC_M) for i in range(CDC_W)]

# The boundary rule as a pure Spark-SQL expression pair — the
# executable SPEC for the Arrow kernel below (pinned equal by
# tests/test_llm_ops.py::test_cdc_kernel_matches_sql_spec). The
# kernel exists because Spark evaluates higher-order-function lambdas
# interpreted, ~2 µs/position regardless of the hash inside (md5 and
# this 16-term polynomial both measured ~3.1 s for the sf0.1 corpus's
# 1.47M positions at local[16]); the vectorized kernel runs the same
# positions in ~0.5 s.
CDC_CODES_EXPR = (
    "transform(sequence(1, tlen),"
    " i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))"
)
CDC_CUTS_EXPR = (
    # the tlen guard keeps the spec total: below W the kernel returns
    # [] while an unguarded sequence(1, tlen - W + 1) would DESCEND
    # (sequence(1, 0) = [1, 0]) and feed non-positive positions into
    # element_at (code-review find, round-14 continuation)
    f"CASE WHEN tlen < {CDC_W} THEN array() ELSE "
    f"transform(filter(sequence(1, tlen - {CDC_W} + 1),"
    " p -> ("
    + " + ".join(
        f"element_at(codes, p + {i}) * {CDC_POW[i]}L" for i in range(CDC_W)
    )
    + f") % {CDC_M} % {CDC_DIV} = 0),"
    f" p -> p + {CDC_W} - 1) END"
)


def _cdc_cut_positions(text):
    """Pure numpy single-document boundary sweep: 1-based cut-end
    positions (the kernel's per-row unit, exposed for direct
    hypothesis testing against the no-shared-code Horner reference in
    tests/test_round9_properties.py — no Spark session needed)."""
    import numpy as np

    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    if codes.shape[0] < CDC_W:
        return []
    win = np.lib.stride_tricks.sliding_window_view(codes, CDC_W)
    pow_vec = np.array(CDC_POW, dtype=np.int64)
    h = (win @ pow_vec) % CDC_M % CDC_DIV
    return (np.nonzero(h == 0)[0] + CDC_W).tolist()


def _cdc_cuts_udf():
    """Arrow-batched boundary kernel: 1-based cut-end positions per doc.

    numpy does the whole O(len·W) window-hash sweep as one
    sliding-window matmul per document (utf-32 decode gives the same
    codepoint sequence ``ascii(substring(...))`` produces on the
    pinned Spark 4 — Spark 3's ascii() returned the signed first UTF-8
    byte instead, so the spec-equality test is the guard if the engine
    is ever downgraded — and the same sequence DuckDB's
    ``ascii(substr(...))`` produces; verified across BMP and astral
    planes). Vectorized batch kernel, never row-at-a-time Python: the
    same Arrow boundary discipline as the multimodal codecs."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    def cuts(texts):
        return pd.Series([_cdc_cut_positions(t) for t in texts])

    # real-object annotations (not strings): the module's
    # `from __future__ import annotations` would otherwise stringify
    # inline hints and break pandas_udf's type-hint inference
    cuts.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(cuts, ArrayType(LongType()))


def q_text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split each document at hash-determined
    boundaries and fingerprint the chunks — the storage-dedup primitive
    (LBFS/FastCDC family) that keeps chunk boundaries STABLE under
    insertions, unlike fixed-size blocks: an edit only reshuffles the
    chunks it touches, so shared chunks across near-duplicate docs keep
    identical hashes. ``n_dup`` counts corpus-wide occurrences of each
    chunk hash — the dedupable-bytes signal.

    Boundary rule (deterministic, engines agree exactly): cut after
    position ``p + W - 1`` wherever the rolling-polynomial hash of the
    W-char window at p (sum of codepoint·CDC_B^k mod CDC_M, the
    Rabin-Karp window hash) is ≡ 0 (mod CDC_DIV); no min/max chunk
    clamp (the clamp makes boundary choice sequential — this
    formulation keeps the whole doc a row-local array computation).
    Docs shorter than W are excluded by contract. Chunk fingerprints
    stay md5 (one per ~64-char chunk — off the hot path).

    Scale shape: boundary detection is a row-local Arrow-batched
    vectorized kernel (``_cdc_cuts_udf`` — one sliding-window matmul
    per doc, zero shuffle; 6× the interpreted HOF-expression form,
    0.53 s vs 3.13 s for sf0.1's 1.47M window positions, identical
    cuts), with the pure-SQL spec retained in CDC_CUTS_EXPR and pinned
    equal in tests; chunking stays a JVM-side array expression. The
    only exchange is the chunk-hash window for n_dup, keyed on the
    high-cardinality hash."""
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())
    s1 = d.select("doc_id", "text", F.length("text").alias("tlen")).where(
        F.length("text") >= CDC_W
    )
    s2 = s1.withColumn("cuts", _cdc_cuts_udf()(F.col("text"))).withColumn(
        "ends_all",
        F.expr("concat(filter(cuts, c -> c < tlen), array(tlen))"),
    ).withColumn(
        "starts",
        F.expr(
            "transform(concat(array(0),"
            " slice(ends_all, 1, size(ends_all) - 1)), e -> e + 1)"
        ),
    )
    chunks = s2.select(
        "doc_id",
        "text",
        F.posexplode(F.arrays_zip("starts", "ends_all")).alias("i", "se"),
    ).select(
        "doc_id",
        (F.col("i") + 1).alias("chunk_idx"),
        F.col("se.starts").cast("long").alias("start"),
        (F.col("se.ends_all") - F.col("se.starts") + 1)
        .cast("long")
        .alias("clen"),
        F.md5(
            F.expr("substring(text, se.starts, se.ends_all - se.starts + 1)")
        ).alias("chash"),
    )
    from pyspark.sql import Window as W

    return chunks.withColumn(
        "n_dup", F.count("*").over(W.partitionBy("chash")).cast("long")
    ).orderBy("doc_id", "chunk_idx")


_CDC_DUCK_TERMS = " + ".join(
    f"codes[p + {i}] * {CDC_POW[i]}" for i in range(CDC_W)
)

Q_TEXT_CDC_CHUNKS_SQL = f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS tlen FROM documents
  WHERE text IS NOT NULL AND length(text) >= {CDC_W}
), cp AS (
  SELECT doc_id, text, tlen,
         list_transform(range(1, tlen + 1),
                        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))
           AS codes
  FROM d
), c AS (
  SELECT doc_id, text, tlen,
         list_transform(
           list_filter(range(1, tlen - {CDC_W} + 2),
             p -> ({_CDC_DUCK_TERMS}) % {CDC_M} % {CDC_DIV} = 0),
           p -> p + {CDC_W} - 1) AS cuts
  FROM cp
), b AS (
  SELECT doc_id, text, tlen,
         list_concat(list_filter(cuts, x -> x < tlen), [tlen]) AS ends_all
  FROM c
), s AS (
  SELECT doc_id, text,
         list_transform(
           list_concat([0], ends_all[1:len(ends_all) - 1]), e -> e + 1)
           AS starts,
         ends_all
  FROM b
), x AS (
  SELECT doc_id, text,
         generate_subscripts(starts, 1) AS chunk_idx,
         unnest(starts) AS st, unnest(ends_all) AS en
  FROM s
), ch AS (
  SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         CAST(st AS BIGINT) AS start, CAST(en - st + 1 AS BIGINT) AS clen,
         md5(substr(text, st, en - st + 1)) AS chash
  FROM x
)
SELECT doc_id, chunk_idx, start, clen, chash,
       CAST(count(*) OVER (PARTITION BY chash) AS BIGINT) AS n_dup
FROM ch ORDER BY doc_id, chunk_idx
"""
