"""End-to-end training-corpus curation pipeline (north star; the
reference has no text layer at all, SURVEY.md §0).

Composes the individually-oracle-checked text operators into the shape
a real LLM-data pipeline runs nightly: quality-score → threshold filter
→ exact dedup (keep lowest doc_id per normalized text) → deterministic
hash sample → final corpus with per-source stats. One declarative plan:
Catalyst fuses the scoring expressions into the scan projection, the
dedup is a single map-side-combined shuffle on the text fingerprint,
and the sample predicate is free (evaluated pre-shuffle, so sampled-out
rows never enter the dedup exchange... actually the dedup must run
before sampling to be semantically a dedup-then-sample; the plan keeps
that order and both filters still evaluate JVM-side).

Near-dup removal is the sibling path (operators/dedup.py
q_dedup_survivors: MinHash-LSH → connected components); this pipeline
is the exact-dup + filter + sample spine that runs first at 100 TB
because it is the cheapest way to shed volume before the expensive
near-dup pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import md5_long, normalize_text, tokens
from bigdatagenomic_spark.operators.text import STOPSETS
from bigdatagenomic_spark.sources.tables import fan_out, load_table

QUALITY_THRESHOLD = 0.5  # keeps ~60% of driver docs (median quality 0.59)
SAMPLE_MOD = 10
SAMPLE_KEEP = 7  # deterministic 70% sample


def curate(docs: DataFrame) -> DataFrame:
    """quality filter → exact dedup → hash sample, fully declarative.

    Tokenizer output and counts are bound to columns in staged
    projections (see text.q_text_quality): a flat projection would
    re-run the split for each of its ~5 textual references per row."""
    s1 = docs.select(
        "doc_id", "source", "text", tokens(F.col("text")).alias("tok")
    )
    s2 = s1.select(
        "doc_id",
        "source",
        "text",
        F.size("tok").alias("n_tok"),
        F.size(F.filter(F.col("tok"), lambda t: t.isin(STOPSETS["en"]))).alias(
            "stop"
        ),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias("alpha"),
    )
    n_tok, stop, alpha = F.col("n_tok"), F.col("stop"), F.col("alpha")
    quality = (
        F.lit(0.5) * F.least(n_tok, F.lit(100)).cast("double") / 100.0
        + F.lit(0.3) * (alpha.cast("double") / F.greatest(F.length("text"), F.lit(1)))
        + F.lit(0.2)
        * F.least(
            stop.cast("double") / F.greatest(n_tok, F.lit(1)) * 5.0, F.lit(1.0)
        )
    )
    scored = s2.select(
        "doc_id",
        "source",
        F.floor(quality * 10000 + F.lit(0.5)).cast("double").alias("q10k"),
        md5_long(normalize_text(F.col("text"))).alias("norm_fp"),
    ).where(F.col("q10k") / 10000 >= QUALITY_THRESHOLD)
    # exact dedup: keep the lowest doc_id per normalized-text fingerprint
    keep_first = W.partitionBy("norm_fp").orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(keep_first))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    # deterministic hash sample — doc_id-keyed so reruns/retries agree
    sampled = deduped.where(
        F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(SAMPLE_MOD))
        < SAMPLE_KEEP
    )
    return sampled


def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus stats per source: survivors + mean quality."""
    docs = load_table(spark, sf_dir, "documents")
    out = curate(docs)
    # mean_quality = round-half-up(avg(q10k)) — computed in EXACT integer
    # arithmetic: q10k is a whole number, so floor(sum/n + 0.5) ==
    # (2*sum + n) div (2*n). Averaging the doubles instead lets Spark's
    # partial-sum association order land a hair's breadth across a
    # .xxxx5 boundary that DuckDB's sequential sum doesn't (caught by
    # preflight as a 1-ulp mean_quality flip at sf0.01).
    return (
        out.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("q10k").cast("long")).alias("_sq"),
        )
        .select(
            "source",
            "n_docs",
            (
                F.expr("(2 * _sq + n_docs) div (2 * n_docs)") / F.lit(10000.0)
            ).alias("mean_quality"),
        )
        .orderBy("source")
    )


Q_PIPELINE_CURATION_SQL = """
WITH s AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tok,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
         greatest(length(text), 1) AS nch,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), r AS (
  SELECT doc_id, source,
         len(tok) AS n_tokens,
         len(list_filter(tok, x -> list_contains(
             ['the','a','of','and','to','is','in','it'], x))) AS stop_cnt,
         greatest(len(tok), 1) AS safe_n, alpha, nch, norm
  FROM s
), q AS (
  SELECT doc_id, source, norm,
         floor((0.5 * least(n_tokens, 100) / 100.0
                + 0.3 * (alpha / CAST(nch AS DOUBLE))
                + 0.2 * least((stop_cnt / CAST(safe_n AS DOUBLE)) * 5.0, 1.0))
               * 10000 + 0.5) AS q10k
  FROM r
), filtered AS (
  SELECT doc_id, source, q10k,
         CAST('0x' || substr(md5(norm), 1, 15) AS BIGINT) AS norm_fp
  FROM q WHERE q10k / 10000 >= 0.5
), deduped AS (
  SELECT doc_id, source, q10k FROM (
    SELECT *, row_number() OVER (PARTITION BY norm_fp ORDER BY doc_id) AS rn
    FROM filtered) WHERE rn = 1
), sampled AS (
  SELECT * FROM deduped
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        % 10 < 7
)
SELECT source, count(*) AS n_docs,
       ((2 * CAST(sum(q10k) AS BIGINT) + count(*)) // (2 * count(*)))
         / 10000.0 AS mean_quality
FROM sampled GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# PII scrubbing (regex redaction of emails / phone numbers / IPv4 addresses)
# --------------------------------------------------------------------------
# Conservative patterns valid in BOTH regex dialects the engine pairs
# (Java for Spark, RE2 for the DuckDB oracle): character classes, bounded
# repetition, \b word boundaries, (?i) case-insensitive flag — no
# lookaround (RE2 has none). The email pattern is (?i) so mixed-case
# addresses ('User@Example.COM') cannot escape redaction; phone/IPv4
# patterns contain no letters and need no flag.
PII_EMAIL = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\b555-[0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def scrub_pii(df: DataFrame, col: str = "text") -> DataFrame:
    """Redact emails, 555-prefixed phone numbers and IPv4 addresses from
    a text column, and count each kind per row (the audit trail a
    redaction pass must emit). Replacement tokens <EMAIL>/<PHONE>/<IP>
    keep sentence structure for downstream tokenization, C4/Dolma-style.

    Order matters: emails are redacted FIRST so the IPv4 pattern cannot
    fire inside a dotted-quad mail domain; each count is therefore taken
    on the text with the EARLIER kinds already redacted, so a dotted
    quad swallowed by an email redaction is counted once, as an email —
    counts sum to the number of replacements made. Scale: map-only
    (regexp_extract_all + regexp_replace are whole-stage-codegen JVM
    expressions) — no shuffle, no UDF.
    """
    c = F.col(col)
    after_email = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")
    n_email = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), 0)).cast("long")
    n_phone = F.size(
        F.regexp_extract_all(after_email, F.lit(PII_PHONE), 0)
    ).cast("long")
    n_ip = F.size(
        F.regexp_extract_all(after_phone, F.lit(PII_IPV4), 0)
    ).cast("long")
    clean = F.regexp_replace(after_phone, PII_IPV4, "<IP>")
    return df.select(
        "*",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ip.alias("n_ip"),
        clean.alias("clean_text"),
    )


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction demo over `documents`: the synthetic corpus carries
    no PII, so the query plants a deterministic dirty suffix on two of
    every three documents (derived from doc_id, mirrored exactly in the
    oracle) and then scrubs it — exercising match, count and replace on
    rows with and without hits."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())
    did = F.col("doc_id")
    dirty = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com today"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" or ping 10.0."),
                (did % 256).cast("string"),
                F.lit(".9"),
            ),
        )
        .otherwise(F.col("text"))
    )
    base = docs.select("doc_id", dirty.alias("text"))
    return (
        scrub_pii(base, "text")
        .select("doc_id", "n_email", "n_phone", "n_ip", "clean_text")
        .orderBy("doc_id")
    )


Q_TEXT_PII_SCRUB_SQL = rf"""
WITH dirty AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com today'
           WHEN doc_id % 3 = 1 THEN
             text || ' call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' or ping 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.9'
           ELSE text
         END AS text
  FROM documents WHERE text IS NOT NULL),
stage AS (
  SELECT doc_id, text,
         regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS after_email
  FROM dirty),
stage2 AS (
  SELECT doc_id, text, after_email,
         regexp_replace(after_email, '{PII_PHONE}', '<PHONE>', 'g')
           AS after_phone
  FROM stage)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(after_email, '{PII_PHONE}')) AS BIGINT)
         AS n_phone,
       CAST(len(regexp_extract_all(after_phone, '{PII_IPV4}')) AS BIGINT)
         AS n_ip,
       regexp_replace(after_phone, '{PII_IPV4}', '<IP>', 'g') AS clean_text
FROM stage2 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# curriculum ordering (quality-descending schedule in token-budget stages)
# --------------------------------------------------------------------------
STAGE_TOKENS = 20_000  # tokens per curriculum stage


def curriculum_order(docs: DataFrame, stage_tokens: int = STAGE_TOKENS) -> DataFrame:
    """Curriculum schedule for training: order the corpus by quality
    (best first, doc_id ties) and cut it into stages of ~``stage_tokens``
    tokens each — the "clean data first" schedule, with stage boundaries
    in the unit the trainer consumes (tokens, not docs).

    The ordering key is the INTEGER q10k score (quality floored at 4
    decimals ×10000, :func:`curate`'s convention), so the total order
    (q10k DESC, doc_id) is engine-exact. The running token count is
    scale.two_phase_cumsum over the pinned scores: a corpus within the
    driver budget runs the plain window over one partition, a larger
    one goes TWO-PHASE (range-partition on the schedule order,
    per-partition partials, broadcast offsets), so the schedule
    materializes at any corpus size. A doc's stage is decided by where
    its cumulative END token lands: stage = (cum_tok - 1) div
    stage_tokens.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    s1 = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "text", tokens(F.col("text")).alias("tok")
    )
    s2 = s1.select(
        "doc_id",
        F.size("tok").cast("long").alias("n_tok"),
        F.size(F.filter(F.col("tok"), lambda t: t.isin(STOPSETS["en"]))).alias(
            "stop"
        ),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias("alpha"),
        F.greatest(F.length("text"), F.lit(1)).alias("nch"),
    )
    n_tok, stop, alpha = F.col("n_tok"), F.col("stop"), F.col("alpha")
    quality = (
        F.lit(0.5) * F.least(n_tok, F.lit(100)).cast("double") / 100.0
        + F.lit(0.3) * (alpha.cast("double") / F.col("nch"))
        + F.lit(0.2)
        * F.least(
            stop.cast("double") / F.greatest(n_tok, F.lit(1)) * 5.0, F.lit(1.0)
        )
    )
    scored = s2.select(
        "doc_id",
        "n_tok",
        F.floor(quality * 10000 + F.lit(0.5)).cast("long").alias("q10k"),
    )
    cum = two_phase_cumsum(
        scored,
        "n_tok",
        [F.desc("q10k"), F.asc("doc_id")],
        out_col="cum_tok",
    )
    return cum.select(
        "doc_id",
        "q10k",
        "n_tok",
        "cum_tok",
        F.expr(f"CAST((cum_tok - 1) div {stage_tokens} AS BIGINT)").alias("stage"),
    )


def q_x_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curriculum_order(
        fan_out(load_table(spark, sf_dir, "documents"))
    ).orderBy("doc_id")


Q_X_CURRICULUM_SQL = f"""
WITH s AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tok,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
         greatest(length(text), 1) AS nch
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT doc_id,
         CAST(len(tok) AS BIGINT) AS n_tok,
         len(list_filter(tok, x -> list_contains(
             ['the','a','of','and','to','is','in','it'], x))) AS stop_cnt,
         greatest(len(tok), 1) AS safe_n, alpha, nch
  FROM s
), q AS (
  SELECT doc_id, n_tok,
         CAST(floor((0.5 * least(n_tok, 100) / 100.0
                + 0.3 * (alpha / CAST(nch AS DOUBLE))
                + 0.2 * least((stop_cnt / CAST(safe_n AS DOUBLE)) * 5.0, 1.0))
               * 10000 + 0.5) AS BIGINT) AS q10k
  FROM r
), c AS (
  SELECT doc_id, q10k, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY q10k DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
  FROM q
)
SELECT doc_id, q10k, n_tok, cum_tok,
       CAST((cum_tok - 1) // {STAGE_TOKENS} AS BIGINT) AS stage
FROM c ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# k-anonymity release (suppress-or-generalize on quasi-identifiers)
# --------------------------------------------------------------------------
K_ANON = 5


def k_anonymize(events: DataFrame, k: int = K_ANON) -> DataFrame:
    """Publishable per-(event_type, hour) activity stats under
    k-anonymity: a group is released only if it contains >= k distinct
    users; smaller groups are GENERALIZED one ladder step (hour -> '*',
    i.e. the whole event_type) and re-tested against the union of their
    underlying users — distinct users don't sum across suppressed
    groups, so the generalized count is re-aggregated from raw rows,
    not from the per-group counts. Groups failing even generalized are
    suppressed entirely. The privacy release step of a data pipeline,
    next to PII redaction (scrub_pii).

    Scale: two hash aggregations plus one broadcast-able anti-join on
    the released group keys; nothing row-expanding, no window.
    """
    base = events.select(
        "event_type",
        F.hour("ts").cast("int").alias("hour"),
        "user_id",
    )
    g1 = base.groupBy("event_type", "hour").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    ok1 = g1.where(F.col("n_users") >= k)
    released = ok1.select(
        "event_type",
        F.col("hour").cast("string").alias("hour_label"),
        "n_users",
        "n_events",
    )
    # rows of suppressed groups, re-aggregated at the generalized level
    suppressed_rows = base.join(
        ok1.select("event_type", "hour"), ["event_type", "hour"], "left_anti"
    )
    g2 = (
        suppressed_rows.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .where(F.col("n_users") >= k)
        .select("event_type", F.lit("*").alias("hour_label"), "n_users", "n_events")
    )
    return released.unionByName(g2)


def q_x_kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    return k_anonymize(load_table(spark, sf_dir, "events")).orderBy(
        "event_type", "hour_label"
    )


Q_X_KANON_RELEASE_SQL = f"""
WITH base AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hour, user_id
  FROM events),
g1 AS (
  SELECT event_type, hour,
         count(DISTINCT user_id) AS n_users, count(*) AS n_events
  FROM base GROUP BY event_type, hour),
ok1 AS (SELECT * FROM g1 WHERE n_users >= {K_ANON}),
released AS (
  SELECT event_type, CAST(hour AS VARCHAR) AS hour_label, n_users, n_events
  FROM ok1),
g2 AS (
  SELECT b.event_type, '*' AS hour_label,
         count(DISTINCT b.user_id) AS n_users, count(*) AS n_events
  FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM ok1 o
                    WHERE o.event_type = b.event_type AND o.hour = b.hour)
  GROUP BY b.event_type
  HAVING count(DISTINCT b.user_id) >= {K_ANON})
SELECT * FROM released UNION ALL SELECT * FROM g2
ORDER BY event_type, hour_label
"""
