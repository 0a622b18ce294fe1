"""Text-analysis operators over the ``documents`` table (north star;
SURVEY.md §2.B Q25 + the LLM-pipeline text ops — no reference counterpart,
the reference has no text analytics, SURVEY.md §0).

All pure Catalyst expressions (no UDFs): language-ID (stopword-set
scoring), quality scoring (length/stopword/alpha ratios), token counting
(whitespace + regex tokenizations), and document fingerprinting (md5
fingerprint of normalized text + winnowing-style min/max char-shingle
hashes). Each has an exact DuckDB oracle in
``bigdatagenomic_spark.queries`` — the rules are deterministic, so they
sit under the hash-match gate.

Note on the driver data: every `documents.text` is English word-soup
regardless of the `lang` label, so language-ID correctness here means
"both engines score the declared rule identically", not label recovery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import (
    char_shingles,
    let_bound,
    md5_long,
    normalize_text,
    tokens,
)
from bigdatagenomic_spark.sources.tables import fan_out, load_table

# fixed stopword sets (mirrored as literals in the oracle SQL)
STOPSETS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "les", "et", "est", "une", "dans"],
    "es": ["el", "los", "y", "es", "una", "en"],
}


def _stop_count(tok, words: list[str]):
    return F.size(F.filter(tok, lambda t: t.isin(words)))


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens vs regex word tokens."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    tok = tokens(F.col("text"))
    return (
        d.select(
            "doc_id",
            F.size(ws).alias("n_ws_tokens"),
            F.size(tok).alias("n_word_tokens"),
            F.length("text").cast("int").alias("len_chars"),
        )
        .orderBy("doc_id")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality score from token/stopword/alpha ratios.

    Staged projections: the tokenizer output and the per-doc counts are
    bound to columns before the ratio arithmetic references them — a
    single flat projection would re-evaluate the split per textual
    reference (Catalyst only guards non-cheap expressions against
    COLLAPSING, not against the author writing the subtree k times)."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", "text", tokens(F.col("text")).alias("tok"))
    s2 = s1.select(
        "doc_id",
        F.size("tok").alias("n_tok"),
        _stop_count(F.col("tok"), STOPSETS["en"]).alias("stop"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias("alpha"),
        F.greatest(F.length("text"), F.lit(1)).alias("n_chars"),
    )
    safe_n = F.greatest(F.col("n_tok"), F.lit(1))
    stop_ratio = F.col("stop").cast("double") / safe_n
    alpha_ratio = F.col("alpha").cast("double") / F.col("n_chars")
    quality = (
        F.lit(0.5) * F.least(F.col("n_tok"), F.lit(100)).cast("double") / 100.0
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    return (
        s2.select(
            "doc_id",
            F.col("n_tok").alias("n_tokens"),
            F.round(stop_ratio, 4).alias("stop_ratio"),
            F.round(alpha_ratio, 4).alias("alpha_ratio"),
            F.round(quality, 4).alias("quality"),
        )
        .orderBy("doc_id")
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile quality gate — the production form of a
    quality heuristic. Absolute score thresholds don't transfer across
    sources (each has its own score distribution), so the pipeline form
    drops the bottom decile PER SOURCE: percent_rank over a window
    partitioned by source, tie-broken (quality, doc_id) so the kept set
    is total-ordered and deterministic. The window partitions on
    source — bounded per-source slices at corpus scale, never a global
    sort. Quality formula is q_text_quality's (both oracle-pinned);
    the rank is floor-rounded at 1e-6 before thresholding so both
    engines gate on the identical value.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", "source", "text", tokens(F.col("text")).alias("tok"))
    s2 = s1.select(
        "doc_id",
        "source",
        F.size("tok").alias("n_tok"),
        _stop_count(F.col("tok"), STOPSETS["en"]).alias("stop"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias("alpha"),
        F.greatest(F.length("text"), F.lit(1)).alias("n_chars"),
    )
    safe_n = F.greatest(F.col("n_tok"), F.lit(1))
    stop_ratio = F.col("stop").cast("double") / safe_n
    alpha_ratio = F.col("alpha").cast("double") / F.col("n_chars")
    quality = (
        F.lit(0.5) * F.least(F.col("n_tok"), F.lit(100)).cast("double") / 100.0
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    scored = s2.select(
        "doc_id", "source", F.round(quality, 4).alias("quality")
    )
    pr = F.percent_rank().over(
        W.partitionBy("source").orderBy(F.asc("quality"), F.asc("doc_id"))
    )
    return (
        scored.withColumn(
            "q_pct", F.floor(pr * 1000000 + F.lit(0.5)) / 1000000
        )
        .where(F.col("q_pct") >= 0.1)
        .orderBy("doc_id")
    )


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean add-1-smoothed bigram conditional log-probability —
    the next rung up from q_text_unigram_logprob on the quality-filter
    ladder (a real fluency proxy: P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V)).

    Scale shape: bigram extraction is MAP-ONLY per doc (zip_with over
    the bound token array — no positional self-join, no explode before
    the count), the corpus bigram/unigram tables shuffle once each on
    their keys, and the per-doc score joins candidates back on those
    keys (broadcast at test scale, key-shuffle at corpus scale). The
    vocabulary-size scalar V is a broadcast 1-row crossJoin (the
    allowlisted BNLJ pattern of q_text_unigram_logprob/tfidf). Docs
    with fewer than two tokens have no bigrams and drop out in both
    engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != F.lit(""))
        .alias("t"),
    )
    pairs = F.zip_with(
        F.col("t"),
        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = toks.select("doc_id", F.explode(pairs).alias("bigram")).where(
        F.col("bigram").rlike("^[a-z]+ [a-z]+$")
    )
    uni = toks.select(F.explode("t").alias("w"))
    c_w = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    v = uni.agg(F.count_distinct("w").alias("v"))
    c_bg = bg.groupBy("bigram").agg(F.count("*").alias("c_bg"))
    scored = (
        bg.join(F.broadcast(c_bg), "bigram")
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(F.broadcast(c_w), F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.floor(
                    F.avg(F.log((F.col("c_bg") + 1) / (F.col("c_w") + F.col("v"))))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("avg_logp"),
        )
    )
    return scored.orderBy("doc_id")


PII_EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}"


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every training corpus runs:
    count and redact email addresses and international-format phone
    numbers. MAP-ONLY (two regex extracts + two replaces per row; no
    shuffle but the declared ORDER BY), so it costs one scan at any
    corpus scale. The synthetic corpus carries no PII, so a
    deterministic seeding step plants an email on every 7th doc and a
    phone on every 11th (mirrored in the oracle — same derived-input
    pattern as q_asm_kmer_counts' reads); the regexes are kept to the
    RE2/Java common dialect so both engines match identical spans. The
    redacted text is reported as an md5 fingerprint, not the text
    itself, keeping the result narrow.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    seeded = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(" call +1 555 123 4567")
        ).otherwise(F.lit("")),
    )
    s1 = d.select("doc_id", seeded.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace("t", PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return s1.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("t", F.lit(PII_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_fp"),
    ).orderBy("doc_id")


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-set language scoring with a deterministic argmax.

    Staged projections (see q_text_quality): tokenize once, count each
    stopword set once, then the argmax reads the four count COLUMNS —
    the flat formulation re-tokenized the document ~12x per row."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", tokens(F.col("text")).alias("tok"))
    s2 = s1.select(
        "doc_id",
        *[
            _stop_count(F.col("tok"), words).alias(f"{lang}_cnt")
            for lang, words in STOPSETS.items()
        ],
    )
    en, de, fr, es = (F.col(c) for c in ("en_cnt", "de_cnt", "fr_cnt", "es_cnt"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("und")
    )
    return (
        s2.select(
            "doc_id", "en_cnt", "de_cnt", "fr_cnt", "es_cnt",
            pred.alias("pred_lang"),
        )
        .orderBy("doc_id")
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5-60bit of normalized text + winnowing-style
    min/max 5-gram shingle hashes (rolling-hash document sketch)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    s1 = d.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    s2 = s1.select(
        "doc_id",
        md5_long(F.col("norm")).alias("fp"),
        F.transform(char_shingles(F.col("norm"), 5), md5_long).alias("hashes"),
    )
    return (
        s2.select(
            "doc_id",
            "fp",
            F.array_min("hashes").alias("min_shingle_h"),
            F.array_max("hashes").alias("max_shingle_h"),
        )
        .orderBy("doc_id")
    )


def q25_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 term frequencies (tokenize + explode + count)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
    return (
        w.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(50)
    )


# GPT-2-style pretokenizer shape: contraction | space-word | space-number
# | space-punct-run | whitespace-run. Counts pretokens (the unit BPE then
# splits further) without needing a vocab — the standard cheap proxy for
# "how many tokens will this document cost".
BPE_PATTERN = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+|\s+"


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretoken counts per document (JVM regexp, no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.lower("text")
    return (
        d.select(
            "doc_id",
            F.regexp_count(lowered, F.lit(BPE_PATTERN)).alias("n_pretokens"),
            F.regexp_count(lowered, F.lit(r"'[a-z]+| ?[a-z]+")).alias("n_word_pieces"),
        )
        .orderBy("doc_id")
    )


def _round4(col):
    # engine-portable HALF_UP (see relational.round2_portable)
    return F.floor(col * 10000 + F.lit(0.5)).cast("double") / 10000


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document.

    Classic corpus weighting: tf(d,w) * ln(N/df(w)). All relational —
    one tokenize+explode, two hash aggregations, a 1-row broadcast for
    N, a per-doc top-k window. At 100 TB the (doc,w) and (w) aggs are
    map-side-combined shuffles on well-distributed keys; the top-k
    window shuffles on doc_id only.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    ).where(F.col("w") != "")
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    # df(w) as a window over the tf aggregate — rows per (doc,w) are
    # unique, so count over (partition by w) IS the document frequency.
    # One extra shuffle on w, but NO second scan+tokenize of the corpus
    # (the groupBy-dfreq + join formulation re-reads documents — at
    # 100 TB the re-scan dominates everything else in the query).
    dfreq_w = F.count("*").over(W.partitionBy("w"))
    # N: count(*) scans no columns (row-group counts only) — cheap
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.withColumn("df", dfreq_w)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            _round4(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
            ),
        )
    )
    w5 = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(w5))
        .where(F.col("rnk") <= 5)
        .select("doc_id", "w", "tf", "df", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent word pairs — the counting kernel of a BPE merge
    round / collocation mining. zip_with pairs each token with its
    successor JVM-side (no UDF), then one explode + count shuffle."""
    d = load_table(spark, sf_dir, "documents")
    # tokenize ONCE into a bound column: zip_with references the token
    # array three times (both zip sides + the slice length), and each
    # textual reference of a composed expression re-runs the split
    toks = d.select(
        F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != F.lit(""))
        .alias("t")
    )
    pairs = F.zip_with(
        F.col("t"),
        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # zip_with pads the shorter side with NULL -> concat_ws drops the
    # null part; the trailing "lone word" entries are filtered out
    bg = toks.select(F.explode(pairs).alias("bigram")).where(
        F.col("bigram").rlike("^[a-z]+ [a-z]+$")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("bigram"))
        .limit(40)
    )


def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 collocations by pointwise mutual information.

    PMI(a,b) = log( p(a,b) / (p(a)·p(b)) ) over adjacent-pair and
    unigram distributions — the statistic behind phrase mining and BPE
    merge scoring. Three map-side-combined aggregates (bigrams,
    unigrams, totals as 1-row broadcasts), two broadcast join-backs of
    the tiny unigram table; the corpus is scanned twice and shuffled
    only on the word keys. Counts gate at >= 5 so the log is stable;
    floor-rounding keeps the doubles portable.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # tokenize ONCE into a bound column (see q_text_bigrams): the pair
    # builder references the array three times, totals twice
    toks = d.select(
        F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != F.lit(""))
        .alias("t")
    )
    pairs = F.zip_with(
        F.col("t"),
        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(1))),
        lambda a, b: F.concat_ws("\x01", a, b),
    )
    bg = (
        toks.select(F.explode(pairs).alias("p"))
        .where(F.col("p").contains("\x01"))
        .select(
            F.split_part(F.col("p"), F.lit("\x01"), F.lit(1)).alias("w1"),
            F.split_part(F.col("p"), F.lit("\x01"), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_pair"))
        .where(F.col("c_pair") >= 5)
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    totals = (
        toks.select(
            (F.size("t")).alias("n_tok"),
            (F.greatest(F.size("t") - 1, F.lit(0))).alias("n_pair"),
        )
        .agg(F.sum("n_tok").alias("tot_w"), F.sum("n_pair").alias("tot_p"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    pmi = (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_pair",
            (
                F.floor(
                    F.log(
                        (F.col("c_pair") / F.col("tot_p"))
                        / (
                            (F.col("c_w1") / F.col("tot_w"))
                            * (F.col("c_w2") / F.col("tot_w"))
                        )
                    )
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("pmi"), "w1", "w2").limit(30)


Q_TEXT_PMI_SQL = """
WITH tok AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT string_split(p, chr(1))[1] AS w1, string_split(p, chr(1))[2] AS w2
  FROM (SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || chr(1) || t[i+1])) AS p
        FROM tok WHERE len(t) >= 2)
), pc AS (
  SELECT w1, w2, count(*) AS c_pair FROM bg GROUP BY w1, w2
  HAVING count(*) >= 5
), uni AS (
  SELECT unnest(t) AS w FROM tok
), uc AS (
  SELECT w, count(*) AS c_w FROM uni GROUP BY w
), tot AS (
  SELECT sum(len(t)) AS tot_w,
         sum(greatest(len(t) - 1, 0)) AS tot_p
  FROM tok
)
SELECT pc.w1, pc.w2, pc.c_pair,
       floor(ln((pc.c_pair / tot.tot_p)
                / ((u1.c_w / tot.tot_w) * (u2.c_w / tot.tot_w)))
             * 10000 + 0.5) / 10000 AS pmi
FROM pc
JOIN uc u1 ON pc.w1 = u1.w
JOIN uc u2 ON pc.w2 = u2.w
CROSS JOIN tot
ORDER BY pmi DESC, pc.w1, pc.w2
LIMIT 30
"""


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean log unigram probability.

    The classic cheap quality filter between heuristics (q_text_quality)
    and a real LM: score each document by the average log corpus
    frequency of its tokens — gibberish and boilerplate-heavy docs sit
    in the tails. One pass builds the unigram table, which joins back
    onto the exploded tokens (broadcast here; at 100 TB vocab the join
    shuffles on the token key) and aggregates per doc. Floor-rounded at
    6 decimals for the cross-engine hash.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda t: t != F.lit("")
            )
        ).alias("w"),
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("c_w"))
    total = tok.agg(F.count("*").alias("tot"))
    scored = (
        tok.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            (
                F.floor(
                    F.avg(F.log(F.col("c_w") / F.col("tot"))) * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("avg_logp"),
        )
    )
    return scored.orderBy("doc_id")


Q_TEXT_UNIGRAM_LOGPROB_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            x -> x <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS c_w FROM tok GROUP BY w
), tot AS (
  SELECT count(*) AS tot FROM tok
)
SELECT t.doc_id, count(*) AS n_tok,
       floor(avg(ln(v.c_w / tot.tot)) * 1000000 + 0.5) / 1000000 AS avg_logp
FROM tok t JOIN vocab v USING (w) CROSS JOIN tot
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document.

    The standard cheap filters for boilerplate / TEMPLATE spam in a
    training corpus: the fraction of distinct tokens (low => the doc
    repeats itself) and the fraction of distinct adjacent bigrams.
    All array-native and map-only — the whole operator is one
    projection pipeline, no shuffle, so it runs at scan speed at any
    scale. Token array and bigram array are bound to columns in staged
    projections (never recomputed per reference).
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    s1 = d.select("doc_id", tokens(F.col("text")).alias("t"))
    bigrams = F.filter(
        F.zip_with(
            F.col("t"),
            F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(1))),
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        ),
        lambda x: x.isNotNull(),
    )
    s2 = s1.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.size(F.array_distinct("t")).alias("n_uniq"),
        bigrams.alias("bg"),
    )
    s3 = s2.select(
        "doc_id",
        "n_tok",
        "n_uniq",
        F.size("bg").alias("n_bg"),
        F.size(F.array_distinct("bg")).alias("n_uniq_bg"),
    )
    return s3.select(
        "doc_id",
        "n_tok",
        F.round(
            F.col("n_uniq") / F.greatest(F.col("n_tok"), F.lit(1)).cast("double"), 4
        ).alias("uniq_tok_ratio"),
        F.round(
            F.col("n_uniq_bg") / F.greatest(F.col("n_bg"), F.lit(1)).cast("double"),
            4,
        ).alias("uniq_bigram_ratio"),
    ).orderBy("doc_id")


Q_TEXT_REPETITION_SQL = """
WITH s1 AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents
), s2 AS (
  SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_uniq,
         list_filter(
           list_transform(range(1, greatest(len(t), 2)),
                          i -> CASE WHEN t[i+1] IS NOT NULL
                                    THEN concat_ws(' ', t[i], t[i+1]) END),
           x -> x IS NOT NULL) AS bg
  FROM s1
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
       round(n_uniq / CAST(greatest(n_tok, 1) AS DOUBLE), 4) AS uniq_tok_ratio,
       round(len(list_distinct(bg)) / CAST(greatest(len(bg), 1) AS DOUBLE), 4)
         AS uniq_bigram_ratio
FROM s2 ORDER BY doc_id
"""


def q_text_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus sources: symmetric
    Laplace-smoothed KL divergence over unigram distributions.

    The standard monitor for "did this source's content shift" in a
    training-data pipeline. Fully relational: one tokenize+explode
    scan, per-source counts, FULL OUTER join on the joint vocabulary
    (a token missing on one side gets the smoothing mass, which is why
    the join must be outer), two broadcast totals, one final reduce.
    Shuffles only on the token key; floor-rounding keeps the doubles
    engine-portable.
    """
    d = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1")
    )
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    c0 = (
        tok.where(F.col("source") == "src0")
        .groupBy("w").agg(F.count("*").alias("c0"))
    )
    c1 = (
        tok.where(F.col("source") == "src1")
        .groupBy("w").agg(F.count("*").alias("c1"))
    )
    joint = (
        c0.join(c1, "w", "full_outer")
        .select(
            "w",
            F.coalesce("c0", F.lit(0)).alias("c0"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
        )
    )
    tot = joint.agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1"),
        F.count("*").alias("v"),
    )
    sm = joint.crossJoin(F.broadcast(tot)).select(
        ((F.col("c0") + 1) / (F.col("t0") + F.col("v"))).alias("p"),
        ((F.col("c1") + 1) / (F.col("t1") + F.col("v"))).alias("q"),
        "v",
    )
    return sm.agg(
        (F.floor(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))) * 1000000
                 + F.lit(0.5)) / 1000000).alias("kl_01"),
        (F.floor(F.sum(F.col("q") * F.log(F.col("q") / F.col("p"))) * 1000000
                 + F.lit(0.5)) / 1000000).alias("kl_10"),
        F.max("v").cast("long").alias("n_vocab"),
    )


Q_TEXT_KL_DRIFT_SQL = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS w
  FROM documents WHERE source IN ('src0', 'src1')
), c0 AS (SELECT w, count(*) AS c0 FROM tok WHERE source = 'src0' GROUP BY w),
c1 AS (SELECT w, count(*) AS c1 FROM tok WHERE source = 'src1' GROUP BY w),
joint AS (
  SELECT coalesce(c0.w, c1.w) AS w,
         coalesce(c0, 0) AS c0, coalesce(c1, 0) AS c1
  FROM c0 FULL OUTER JOIN c1 USING (w)
), tot AS (SELECT sum(c0) AS t0, sum(c1) AS t1, count(*) AS v FROM joint),
sm AS (
  SELECT (c0 + 1) / CAST(t0 + v AS DOUBLE) AS p,
         (c1 + 1) / CAST(t1 + v AS DOUBLE) AS q, v
  FROM joint CROSS JOIN tot
)
SELECT floor(sum(p * ln(p / q)) * 1000000 + 0.5) / 1000000 AS kl_01,
       floor(sum(q * ln(q / p)) * 1000000 + 0.5) / 1000000 AS kl_10,
       CAST(max(v) AS BIGINT) AS n_vocab
FROM sm
"""


def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit: slope of ln(freq) vs ln(rank) over the term-frequency
    table (natural language sits near -1; generated/templated corpora
    deviate — a cheap corpus-health signal). Ranks are tie-broken
    (count desc, term asc) so both engines see identical points; the
    OLS slope comes from ``regr_slope``, computed over the |vocab|-row
    aggregate, never the raw corpus.

    Rank comes from :func:`bigdatagenomic_spark.operators.scale.
    two_phase_rank`, not a global ``row_number()`` window: Spark
    executes an unpartitioned window in ONE partition, and the unigram
    vocabulary of a 100 TB corpus is 1e8–1e9 rows — an OOM/straggler.
    (c desc, w asc) is a total order — w is unique post-aggregate — so
    the two-phase rank reproduces the global rank exactly.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = two_phase_rank(
        counts, [F.desc("c"), F.asc("w")], rank_col="rank"
    ).withColumn("rank", F.col("rank").cast("int"))
    return ranked.agg(
        (
            F.floor(
                F.regr_slope(F.log("c"), F.log("rank")) * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("zipf_slope"),
        F.count("*").cast("long").alias("n_vocab"),
        F.max("c").cast("long").alias("top_count"),
    )


Q_TEXT_ZIPF_SQL = """
WITH counts AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS w
    FROM documents)
  GROUP BY w
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM counts
)
SELECT floor(regr_slope(ln(c), ln(rank)) * 10000 + 0.5) / 10000 AS zipf_slope,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(max(c) AS BIGINT) AS top_count
FROM ranked
"""


# ---------------------------------------------------------------------------
# vocabulary pruning (rare-token scrub)
# ---------------------------------------------------------------------------
VOCAB_PRUNE_FRACTION = 0.01  # keep tokens with >= 1% of all corpus tokens


def q_text_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite each document keeping only tokens whose CORPUS frequency
    is at least ``VOCAB_PRUNE_FRACTION`` of all tokens — the rare-token
    scrub (OCR noise, mojibake, hapax junk) of an LLM cleaning pipeline.

    The threshold is a fraction of the corpus token count, not an
    absolute count, so the semantics are scale-invariant. Shape at
    100 TB: posexplode -> token-frequency aggregate -> equi-join back on
    the token -> per-doc positional reassembly (collect_list of
    (pos, token) structs, array_sort, join). Every join is on a key
    (token / doc_id); the 1-row token-total crossJoin is the same
    allowlisted broadcast-scalar pattern as q_text_tfidf. Per-doc state
    is bounded by document length, never by corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    flat = d.where(F.col("text").isNotNull()).select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    freq = flat.groupBy("t").agg(F.count("*").alias("cnt"))
    total = flat.agg(F.count("*").alias("_total"))
    keep = (
        freq.crossJoin(F.broadcast(total))
        .where(F.col("cnt") >= F.col("_total") * F.lit(VOCAB_PRUNE_FRACTION))
        .select("t")
    )
    rebuilt = (
        flat.join(keep, "t")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "t"))),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("pruned_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        d.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pruned_text", F.lit("")).alias("pruned_text"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


Q_TEXT_VOCAB_PRUNE_SQL = """
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), flat AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM docs
), tok AS (
  SELECT doc_id, pos, toks[pos] AS t FROM flat
), keep AS (
  SELECT t FROM tok GROUP BY t
  HAVING count(*) >= (SELECT count(*) FROM tok) * 0.01
), rebuilt AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS pruned_text,
         count(*) AS n_kept
  FROM tok JOIN keep USING (t) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.pruned_text, '') AS pruned_text,
       coalesce(r.n_kept, 0) AS n_kept
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. 2003, MOSS)
# --------------------------------------------------------------------------
WIN_K = 5   # chars per k-gram
WIN_W = 4   # hashes per winnowing window
_WIN_POS_BITS = 20  # supports docs up to 2^20 grams (docstring contract)


def winnow_fingerprints(docs: DataFrame, k: int = WIN_K, w: int = WIN_W) -> DataFrame:
    """(doc_id, sel_pos, sel_h) — winnowing: hash every char k-gram,
    slide a w-hash window, keep each window's MINIMUM hash (rightmost
    on ties), emit the distinct selected (position, hash) pairs. The
    guarantee (Schleimer et al. 2003): any substring match of length
    >= w + k - 1 between two documents shares at least one selected
    fingerprint — so the index stores ~2/(w+1) of all grams instead of
    every shingle, with NO loss on long matches (the MOSS trade).

    The rightmost-tie minimum inside a sliding frame is not directly
    expressible as a window aggregate, so position is packed into the
    hash key: ``key = h * 2^20 + (2^20-1-pos)`` — an integer ``min``
    over the frame then decodes to (min hash, rightmost pos). The
    30-bit gram hash keeps the packed key under 2^50; docs are bounded
    at 2^20 grams by contract (chunk longer docs first —
    q_text_chunks). All windows partition by doc — bounded frames, one
    shuffle, no UDF.
    """
    from pyspark.sql import Window as W

    pos_mod = 1 << _WIN_POS_BITS
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", normalize_text(F.col("text")).alias("s")
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            let_bound(
                F.col("s"),
                lambda s: F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(s) - (k - 1), F.lit(1))),
                    lambda i: F.substring(s, i, k),
                ),
            )
        ).alias("pos", "gram"),
    ).where(F.length("gram") == k)
    keyed = grams.select(
        "doc_id",
        "pos",
        (
            F.pmod(md5_long(F.col("gram")), F.lit(1 << 30)) * pos_mod
            + (F.lit(pos_mod - 1) - F.col("pos"))
        ).alias("key"),
    )
    frame = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, w - 1)
    )
    n_grams = W.partitionBy("doc_id")
    wins = keyed.select(
        "doc_id",
        "pos",
        F.min("key").over(frame).alias("win_min"),
        F.count("*").over(n_grams).alias("_n"),
    ).where(F.col("pos") <= F.col("_n") - w)
    return (
        wins.select(
            "doc_id",
            (F.lit(pos_mod - 1) - F.pmod(F.col("win_min"), F.lit(pos_mod)))
            .cast("long")
            .alias("sel_pos"),
            (F.col("win_min") / pos_mod).cast("long").alias("sel_h"),
        )
        .distinct()
    )


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    ).orderBy("doc_id", "sel_pos")


Q_TEXT_WINNOW_SQL = f"""
WITH t AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
  FROM documents WHERE text IS NOT NULL AND doc_id < 100),
g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, substr(s, CAST(i AS INT), {WIN_K}) AS gram
  FROM t, unnest(range(1, greatest(length(s) - {WIN_K - 1}, 1) + 1)) u(i)
  WHERE length(substr(s, CAST(i AS INT), {WIN_K})) = {WIN_K}),
keyed AS (
  SELECT doc_id, pos,
         (CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % {1 << 30})
           * {1 << _WIN_POS_BITS}
           + ({(1 << _WIN_POS_BITS) - 1} - pos) AS key
  FROM g),
wins AS (
  SELECT doc_id, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING)
           AS win_min,
         count(*) OVER (PARTITION BY doc_id) AS _n
  FROM keyed)
SELECT DISTINCT doc_id,
       CAST({(1 << _WIN_POS_BITS) - 1} - (win_min % {1 << _WIN_POS_BITS})
            AS BIGINT) AS sel_pos,
       CAST(win_min // {1 << _WIN_POS_BITS} AS BIGINT) AS sel_h
FROM wins WHERE pos <= _n - {WIN_W}
ORDER BY doc_id, sel_pos
"""


WINNOW_MAX_POSTING = 20  # drop fingerprints shared by more docs (too common)


def winnow_pairs(docs: DataFrame, max_posting: int = WINNOW_MAX_POSTING) -> DataFrame:
    """(a_id, b_id, n_shared) — the MOSS match step over the winnowing
    index: candidate document pairs ranked by how many selected
    fingerprints they share. Fingerprints whose posting list exceeds
    ``max_posting`` docs are dropped first (ubiquitous boilerplate
    grams pair everyone with everyone — the same hub-protection as the
    boilerplate scrub's frequency cut), so the pair join is bounded at
    max_posting^2 per fingerprint, never corpus^2.

    Index (winnow_fingerprints) is ~2/(w+1) of gram volume; this join
    shuffles only (sel_h, doc_id) pairs.
    """
    fp = (
        winnow_fingerprints(docs)
        .select("doc_id", "sel_h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    rare = (
        fp.groupBy("sel_h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") <= max_posting)
        .select("sel_h")
    )
    keep = fp.join(rare, "sel_h", "left_semi")
    a = keep.select(F.col("sel_h"), F.col("doc_id").alias("a_id"))
    b = keep.select(F.col("sel_h"), F.col("doc_id").alias("b_id"))
    return (
        a.join(b, "sel_h")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def q_text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_pairs(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    ).orderBy("a_id", "b_id")


# the winnow index + posting-capped pair CTEs (t .. wpairs), shared by
# the standalone pair oracle (100-doc bound) and the winnow-survivors
# closure oracle (the wider PAIR_SAMPLE_DOCS bound, where sf0.01 actually
# contains near-dups) so the fingerprint/pair formulas can never drift
def winnow_pair_ctes_for(bound: int) -> str:
    return f"""t AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
  FROM documents WHERE text IS NOT NULL AND doc_id < {bound}),
g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, substr(s, CAST(i AS INT), {WIN_K}) AS gram
  FROM t, unnest(range(1, greatest(length(s) - {WIN_K - 1}, 1) + 1)) u(i)
  WHERE length(substr(s, CAST(i AS INT), {WIN_K})) = {WIN_K}),
keyed AS (
  SELECT doc_id, pos,
         (CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % {1 << 30})
           * {1 << _WIN_POS_BITS}
           + ({(1 << _WIN_POS_BITS) - 1} - pos) AS key
  FROM g),
wins AS (
  SELECT doc_id, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING)
           AS win_min,
         count(*) OVER (PARTITION BY doc_id) AS _n
  FROM keyed),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         CAST(win_min // {1 << _WIN_POS_BITS} AS BIGINT) AS sel_h
  FROM wins WHERE pos <= _n - {WIN_W}),
rare AS (
  SELECT sel_h FROM fp GROUP BY sel_h
  HAVING count(*) <= {WINNOW_MAX_POSTING}),
wpairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b USING (sel_h)
  WHERE a.doc_id < b.doc_id AND sel_h IN (SELECT sel_h FROM rare)
  GROUP BY a.doc_id, b.doc_id)"""


Q_TEXT_WINNOW_PAIRS_SQL = f"""
WITH {winnow_pair_ctes_for(100)}
SELECT a_id, b_id, n_shared FROM wpairs
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# Lexical diversity (type-token ratio)
# ---------------------------------------------------------------------------

def q_text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type/token counts + TTR.

    The standard word-salad / template-spam screen between the length
    heuristics (q_text_quality) and the repetition profile
    (q_text_repetition): a low type-token ratio means the document
    reuses a tiny vocabulary. Map-only — the tokenizer, the distinct
    count and the integer-exact ratio are all row-local expressions, so
    the plan is a single scan projection at any corpus size (no explode,
    no shuffle). ``ttr_micro`` is the truncated integer
    ``n_types*1e6 div n_tokens`` — exact in both engines (positive
    BIGINT division truncates identically in Spark and DuckDB).
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    s1 = d.select("doc_id", tok.alias("tok"))
    return (
        s1.select(
            "doc_id",
            F.size("tok").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("tok")).cast("long").alias("n_types"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn(
            "ttr_micro", F.expr("n_types * 1000000L div n_tokens")
        )
        .orderBy("doc_id")
    )


Q_TEXT_TTR_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
       CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT) AS ttr_micro
FROM tok WHERE len(t) > 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["merge", "window", "stream"]
BM25_TOP_N = 10


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-N documents for a fixed query.

    The sparse-retrieval baseline next to the dense stack
    (q26/q_sim_*): Okapi BM25 with the standard k1=1.2, b=0.75 and the
    +1-smoothed idf ``ln(1 + (N-df+0.5)/(df+0.5))`` (always positive).

    Plan shape for 100 TB: NO explode and NO per-token shuffle — per-doc
    term frequencies for the (bounded) query terms and the doc length
    are row-local array expressions over one tokenizer pass, so stage 1
    is a map-only scan projection. The corpus stats (N, total length,
    one df per query term) reduce to ONE 1-row aggregate that broadcasts
    back for scoring; the only other exchange is the top-N TakeOrdered.
    Scores floor-round at 4 decimals for the cross-engine hash; ties
    break by doc_id.
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())
    tok = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    s1 = d.select("doc_id", tok.alias("tok"))
    tf_cols = [
        F.size(F.filter("tok", lambda t: t == F.lit(term)))
        .cast("long")
        .alias(f"tf{i}")
        for i, term in enumerate(BM25_QUERY_TERMS)
    ]
    s2 = s1.select(
        "doc_id", F.size("tok").cast("long").alias("dl"), *tf_cols
    ).where(F.col("dl") > 0)
    stats = s2.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("tot_len"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    scored = s2.crossJoin(F.broadcast(stats))
    score = None
    n_match = None
    for i in range(len(BM25_QUERY_TERMS)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        denom = F.col(f"tf{i}") + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B)
            * F.col("dl")
            / (F.col("tot_len").cast("double") / F.col("n_docs"))
        )
        part = idf * (F.col(f"tf{i}") * F.lit(BM25_K1 + 1.0)) / denom
        hit = (F.col(f"tf{i}") > 0).cast("long")
        score = part if score is None else score + part
        n_match = hit if n_match is None else n_match + hit
    return (
        scored.select(
            "doc_id",
            n_match.alias("n_match"),
            (F.floor(score * 10000 + F.lit(0.5)) / 10000).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP_N)
    )


def _bm25_oracle_sql() -> str:
    """Replays the same expression tree: row-local tf/dl arrays, one
    stats row, left-associated per-term score sum, floor-round 4."""
    tf_exprs = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{term}')) AS tf{i}"
        for i, term in enumerate(BM25_QUERY_TERMS)
    )
    df_exprs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    parts = []
    hits = []
    for i in range(len(BM25_QUERY_TERMS)):
        idf = f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        denom = (
            f"(tf{i} + {BM25_K1} * ({round(1.0 - BM25_B, 10)} + {BM25_B}"
            f" * dl / (CAST(tot_len AS DOUBLE) / n_docs)))"
        )
        parts.append(f"({idf} * (tf{i} * {BM25_K1 + 1.0}) / {denom})")
        hits.append(f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END")
    score = " + ".join(parts)
    n_match = " + ".join(hits)
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), pertf AS (
  SELECT doc_id, len(t) AS dl,
         {tf_exprs}
  FROM tok
), perdoc AS (SELECT * FROM pertf WHERE dl > 0),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS tot_len, {df_exprs} FROM perdoc
)
SELECT doc_id,
       CAST({n_match} AS BIGINT) AS n_match,
       floor(({score}) * 10000 + 0.5) / 10000 AS score
FROM perdoc CROSS JOIN stats
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_N}
"""


# ---------------------------------------------------------------------------
# Token-entropy quality screen
# ---------------------------------------------------------------------------

def with_runlength_counts(t, body):
    """Bind the per-type counts of token array ``t`` (in sorted-type
    order) and pass the counts array Column to ``body``.

    Counts are derived as run-lengths over ONE ``array_sort``: run
    boundaries → adjacent differences — O(T log T) row-local, vs the
    O(types × tokens) filter-per-type fold it replaced in round 11.
    The caller must guard ``size(t) == 0`` OUTSIDE (CASE-lazily), so
    the sequence/element_at machinery never sees an empty array.
    Shared by q_text_entropy and q_text_hapax.
    """
    n = F.size(t)

    def from_sorted(st):
        # run starts: positions where the sorted copy changes value.
        # CASE (not `|`) so i=1 never evaluates element_at(st, 0),
        # an ANSI INVALID_ARRAY_INDEX.
        b = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.when(i == F.lit(1), F.lit(True)).otherwise(
                F.element_at(st, i) != F.element_at(st, i - 1)
            ),
        )

        def fold(bnd):
            # boundaries + sentinel n+1: counts[j] = b[j+1] - b[j]
            counts = F.zip_with(
                F.slice(bnd, 1, F.size(bnd) - 1),
                F.slice(bnd, 2, F.size(bnd) - 1),
                lambda x, y: y - x,
            )
            return body(counts)

        return let_bound(F.concat(b, F.array(n + F.lit(1))), fold)

    return let_bound(F.array_sort(t), from_sorted)


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy — the information-density
    quality screen between q_text_ttr (pure type/token counts) and the
    LM proxies (q_text_unigram_logprob): template spam and keyword
    stuffing concentrate probability mass on a few tokens and score a
    LOW entropy even when the type count looks healthy.

    ``H = ln(n) - (sum_c c*ln(c)) / n`` over the doc's token counts —
    computed ROW-LOCALLY: the token array, the sorted type list, the
    per-type counts and the entropy fold are all single-row array
    expressions, so the plan is a map-only scan projection with NO
    explode and NO shuffle at any corpus size (the (doc, token)
    groupBy formulation shuffles the whole corpus for what is
    per-document arithmetic — the simhash_signatures lesson). Both
    engines fold the counts in the SAME sorted-type order, so the
    float sums are IEEE-identical op-for-op; the only cross-engine
    hazard is a transcendental ulp, snapped at the coarse 1e-4 grid
    (the dsir_scores ADVICE-r8 pattern).

    Per-row cost is O(T log T): the counts come from run-lengths over
    ONE ``array_sort`` of the tokens (run boundaries → adjacent
    differences), replacing the round-10 O(types x tokens)
    filter-per-type fold — same count values in the same sorted-type
    order, so the float fold is bit-identical, but a 10k-token doc
    costs one sort instead of types full scans. Token-less docs
    (punctuation-only text) short-circuit behind a CASE guard: the
    0-token path must never reach the ``s / n`` division (ANSI
    DIVIDE_BY_ZERO — the q_x_rolling_corr lesson applies to 0.0/0.0
    too).
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())

    def ent_cols(t):
        n = F.size(t)

        def from_counts(counts):
            s = F.aggregate(
                counts,
                F.lit(0.0),
                lambda acc, c: acc + c.cast("double") * F.log(c.cast("double")),
            )
            nd = n.cast("double")
            ent = F.log(nd) - s / nd
            return F.struct(
                n.cast("long").alias("n_tokens"),
                F.size(counts).cast("long").alias("n_types"),
                (F.floor(ent * 10000 + F.lit(0.5)) / 10000).alias("ent"),
            )

        return F.when(n > 0, with_runlength_counts(t, from_counts)).otherwise(
            F.struct(
                F.lit(0).cast("long").alias("n_tokens"),
                F.lit(0).cast("long").alias("n_types"),
                F.lit(None).cast("double").alias("ent"),
            )
        )

    s1 = d.select("doc_id", let_bound(tokens(F.col("text")), ent_cols).alias("_e"))
    return (
        s1.select("doc_id", "_e.n_tokens", "_e.n_types", "_e.ent")
        .where(F.col("n_tokens") > 0)
        .orderBy("doc_id")
    )


Q_TEXT_ENTROPY_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_transform(list_sort(list_distinct(t)),
                        c -> CAST(len(list_filter(t, x -> x = c)) AS DOUBLE))
           AS counts
  FROM tok WHERE len(t) > 0
)
SELECT doc_id, n_tokens, CAST(len(counts) AS BIGINT) AS n_types,
       floor((ln(CAST(n_tokens AS DOUBLE))
              - list_sum(list_transform(counts, c -> c * ln(c)))
                / CAST(n_tokens AS DOUBLE)) * 10000 + 0.5) / 10000 AS ent
FROM base ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# N-gram novelty vs the corpus
# ---------------------------------------------------------------------------

NOVELTY_N = 5  # word n-gram width


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct word
    5-grams that occur in NO other document — the data-mixing signal
    dual to deduplication (near-dups score ~0, memorization-risky
    template text scores low, fresh prose scores high; used to
    prioritize novel text under a token budget).

    Scale shape: the only shuffle key is the 60-bit md5 of the shingle
    (never the shingle string — the boilerplate/winnow fingerprint
    lesson: a 5-word string key is ~40 bytes of wire per occurrence,
    the hash is 8). Document frequency is a ``count(*)`` WINDOW over
    the hash, not a groupBy + join-back: the join formulation consumed
    the tokenize/shingle subtree TWICE (one Generate per consumer in
    the round-14 before-plan — the corpus was tokenized once to build
    df(h) and again to probe it), whereas the window shuffles the
    (doc_id, h) pairs by h exactly once and tokenizes once. Same df
    value per row (the window frame is the whole h-partition), so
    n_novel/n_shingles are bit-identical. Skew surface (a corpus-hot
    shingle funnelling one h into one task) is unchanged — the old
    shape's shuffled-hash/sort-merge join at scale keyed on the same h.
    Short docs (< 5 tokens) contribute their partial shingle like the
    other shingle ops (concat_ws null-skip == the oracle's NULL list
    indexing).
    """
    from pyspark.sql import Window as W

    d = fan_out(
        load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    )
    from bigdatagenomic_spark.functions import word_shingles

    sh = d.select(
        "doc_id",
        F.explode(word_shingles(tokens(F.col("text")), NOVELTY_N)).alias("sh"),
    ).select("doc_id", md5_long(F.col("sh")).alias("h"))
    per_doc = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).cast("long").alias("n_novel"),
        )
    )
    return per_doc.withColumn(
        "novelty_micro", F.expr("n_novel * 1000000L div n_shingles")
    ).orderBy("doc_id")


_NOVELTY_GRAM = " ".join(f"t[i+{j}]" for j in range(NOVELTY_N)).replace(" ", ", ")

Q_TEXT_NOVELTY_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(unnest(list_distinct(
             list_transform(range(1, greatest(len(t) - {NOVELTY_N - 1}, 1) + 1),
                            i -> concat_ws(' ', {_NOVELTY_GRAM}))))), 1, 15)
           AS BIGINT) AS h
  FROM tok
), dfh AS (
  SELECT h, count(*) AS df FROM sh GROUP BY h
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS novelty_micro
FROM sh s JOIN dfh d USING (h)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# Sentence-level statistics (Gopher-style document shape signals)
# ---------------------------------------------------------------------------

def q_text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence statistics: sentence count, truncated
    mean words-per-sentence (milli), and the longest sentence — the
    Gopher/C4 document-shape signals at SENTENCE granularity (word
    stats live in q_text_quality): list-dump and log-spam documents
    have degenerate sentence shapes that word counts alone miss.

    Row-local like q_text_ttr/q_text_entropy: the sentence split, the
    per-sentence word counts and the aggregate moments are single-row
    array expressions — a map-only scan projection, no explode, no
    shuffle; every emitted number is an exact integer.
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())

    def stats(sents):
        wc = F.transform(
            sents,
            lambda s: F.size(
                F.filter(
                    F.split(F.lower(s), "[^a-z0-9]+"), lambda t: t != F.lit("")
                )
            ).cast("long"),
        )
        total = F.aggregate(wc, F.lit(0).cast("long"), lambda a, x: a + x)
        return F.struct(
            F.size(sents).cast("long").alias("n_sentences"),
            total.alias("n_words"),
            F.array_max(wc).cast("long").alias("max_sentence_words"),
        )

    sents = F.filter(
        F.split(F.col("text"), "[.!?]+"),
        lambda s: F.trim(s) != F.lit(""),
    )
    s1 = d.select("doc_id", let_bound(sents, stats).alias("_s"))
    return (
        s1.select(
            "doc_id",
            "_s.n_sentences",
            "_s.n_words",
            "_s.max_sentence_words",
        )
        .where(F.col("n_sentences") > 0)
        .withColumn(
            "mean_words_milli",
            F.expr("1000 * n_words div n_sentences"),
        )
        .orderBy("doc_id")
    )


Q_TEXT_SENTENCES_SQL = """
WITH s AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[.!?]+'),
                     x -> trim(x) <> '') AS sents
  FROM documents WHERE text IS NOT NULL
), wc AS (
  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
         list_transform(sents,
             s -> CAST(len(list_filter(
                 string_split_regex(lower(s), '[^a-z0-9]+'),
                 t -> t <> '')) AS BIGINT)) AS w
  FROM s WHERE len(sents) > 0
)
SELECT doc_id, n_sentences,
       CAST(list_sum(w) AS BIGINT) AS n_words,
       CAST(list_max(w) AS BIGINT) AS max_sentence_words,
       CAST(1000 * list_sum(w) // n_sentences AS BIGINT) AS mean_words_milli
FROM wc ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Hapax legomena ratio (round 11)
# ---------------------------------------------------------------------------

def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hapax-legomena ratio: the share of a document's
    distinct types that occur exactly once — the vocabulary-freshness
    dual of q_text_ttr (TTR says how many types; hapax ratio says how
    much of the vocabulary is non-repeating). Template/boilerplate
    text repeats its vocabulary and scores LOW; natural prose sits
    near Zipf's ~0.4-0.6; token-salad spam scores ~1.0 — used with
    q_text_entropy as a quality screen pair.

    Map-only scan projection like entropy: the per-type counts come
    from the shared ``with_runlength_counts`` fold (O(T log T)
    row-local, no explode/shuffle at any corpus size); the ratio is
    the codebase's integer-exact convention (``*_micro`` BIGINT, no
    float at the engine/oracle boundary). 0-token docs are dropped by
    the same CASE-guarded path as entropy.
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())

    def cols(t):
        n = F.size(t)

        def from_counts(counts):
            return F.struct(
                n.cast("long").alias("n_tokens"),
                F.size(counts).cast("long").alias("n_types"),
                F.size(F.filter(counts, lambda c: c == F.lit(1)))
                .cast("long")
                .alias("n_hapax"),
            )

        return F.when(n > 0, with_runlength_counts(t, from_counts)).otherwise(
            F.struct(
                F.lit(0).cast("long").alias("n_tokens"),
                F.lit(0).cast("long").alias("n_types"),
                F.lit(0).cast("long").alias("n_hapax"),
            )
        )

    s1 = d.select("doc_id", let_bound(tokens(F.col("text")), cols).alias("_h"))
    return (
        s1.select("doc_id", "_h.n_tokens", "_h.n_types", "_h.n_hapax")
        .where(F.col("n_tokens") > 0)
        .withColumn(
            "hapax_ratio_micro",
            F.expr("n_hapax * 1000000L div n_types"),
        )
        .orderBy("doc_id")
    )


Q_TEXT_HAPAX_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_transform(list_sort(list_distinct(t)),
                        c -> len(list_filter(t, x -> x = c))) AS counts
  FROM tok WHERE len(t) > 0
)
SELECT doc_id, n_tokens, CAST(len(counts) AS BIGINT) AS n_types,
       CAST(len(list_filter(counts, c -> c = 1)) AS BIGINT) AS n_hapax,
       CAST(len(list_filter(counts, c -> c = 1)) * 1000000 // len(counts)
            AS BIGINT) AS hapax_ratio_micro
FROM base ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Flesch-style readability score (round 11)
# ---------------------------------------------------------------------------

def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease score from the classic
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    formula (Flesch 1948), with syllables approximated as vowel-group
    runs (min 1 per word) — the grade-level quality screen corpus
    curation pipelines run next to Gopher-style shape rules: very low
    scores flag run-on machine text, very high ones flag word-salad.

    Row-local like q_text_sentences (whose sentence split this
    reuses): the sentence count, word count and syllable fold are all
    single-row array expressions — map-only, no explode, no shuffle.
    Components are exact BIGINTs; the score is the shared
    floor(x·1000 + 0.5) milli grid, identical expression both engines.
    Docs with no sentences or no words are dropped (the divisions are
    never evaluated for them — ANSI discipline).
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())

    def wordstats(t):
        # vowel-group count: split on [aeiou]+ yields groups+1 parts
        syl = F.aggregate(
            t,
            F.lit(0).cast("long"),
            lambda a, w: a
            + F.greatest(
                (F.size(F.split(w, "[aeiou]+")) - 1).cast("long"),
                F.lit(1).cast("long"),
            ),
        )
        return F.struct(
            F.size(t).cast("long").alias("n_words"),
            syl.alias("n_syllables"),
        )

    sents = F.filter(
        F.split(F.col("text"), "[.!?]+"),
        lambda s: F.trim(s) != F.lit(""),
    )
    s1 = d.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        let_bound(tokens(F.col("text")), wordstats).alias("_w"),
    )
    out = (
        s1.select("doc_id", "n_sentences", "_w.n_words", "_w.n_syllables")
        .where((F.col("n_sentences") > 0) & (F.col("n_words") > 0))
    )
    w, s, y = (
        F.col("n_words").cast("double"),
        F.col("n_sentences").cast("double"),
        F.col("n_syllables").cast("double"),
    )
    flesch = F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w)
    return out.withColumn(
        "flesch_milli",
        F.floor(flesch * 1000 + F.lit(0.5)).cast("long"),
    ).orderBy("doc_id")


Q_TEXT_READABILITY_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                              x -> trim(x) <> '')) AS BIGINT) AS n_sentences,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), counted AS (
  SELECT doc_id, n_sentences, CAST(len(t) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(t,
             w -> greatest(len(string_split_regex(w, '[aeiou]+')) - 1, 1)))
           AS BIGINT) AS n_syllables
  FROM base
)
SELECT doc_id, n_sentences, n_words, n_syllables,
       CAST(floor((206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                  * 1000 + 0.5) AS BIGINT) AS flesch_milli
FROM counted WHERE n_sentences > 0 AND n_words > 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# term burstiness (round 11)
# ---------------------------------------------------------------------------

BURST_MIN_DF = 50  # report terms appearing in >= this many documents


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term burstiness (Church & Gale 1995): the variance-to-mean
    ratio of a term's per-document count across the WHOLE corpus
    (zero-count documents included). VMR ~ 1 means Poisson scatter
    (function words); VMR >> 1 means the term clumps into few documents
    (content/topical words, boilerplate blocks) — the signal behind
    burstiness-aware term weighting and template detection.

    Zero-count docs cost nothing: they contribute 0 to both Sum(c) and
    Sum(c^2), so the moments over OCCURRING (doc, term) rows are already
    the corpus-wide moments — only N (one count of documents, 1-row
    broadcast) sees the full corpus. vmr_micro = (N*Sxx - Sx^2) * 1e6
    div (Sx * (N-1)) is integer-exact via DECIMAL(38,0)/HUGEINT, and
    nonnegative by Cauchy-Schwarz, so truncating div is portable.
    Plan: tokenize+explode -> (doc, term) count -> per-term moments,
    all map-side-combinable shuffles on well-distributed keys.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    tc = tok.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("c"))
    d38 = "decimal(38,0)"
    per_term = tc.groupBy("w").agg(
        F.count("*").cast("long").alias("df"),
        F.sum(F.col("c").cast(d38)).alias("_sx"),
        F.sum(F.col("c").cast(d38) * F.col("c")).alias("_sxx"),
    )
    n = d.agg(F.count("*").cast("long").alias("_n"))
    return (
        per_term.where(F.col("df") >= BURST_MIN_DF)
        .crossJoin(F.broadcast(n))
        .select(
            "w",
            "df",
            F.col("_sx").cast("long").alias("n_occ"),
            F.expr(
                "CAST((_n * _sxx - _sx * _sx) * 1000000"
                "     div (_sx * (CAST(_n AS DECIMAL(38,0)) - 1)) AS BIGINT)"
            ).alias("vmr_micro"),
        )
        .orderBy("w")
    )


Q_TEXT_BURSTINESS_SQL = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS w
  FROM docs
), tc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), per_term AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df,
         sum(CAST(c AS HUGEINT)) AS sx,
         sum(CAST(c AS HUGEINT) * c) AS sxx
  FROM tc GROUP BY w
), n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs)
SELECT w, df, CAST(sx AS BIGINT) AS n_occ,
       CAST((t.n * sxx - sx * sx) * 1000000
            // (sx * (CAST(t.n AS HUGEINT) - 1)) AS BIGINT) AS vmr_micro
FROM per_term CROSS JOIN n_tot t
WHERE df >= {BURST_MIN_DF}
ORDER BY w
"""


# ---------------------------------------------------------------------------
# token-length (fertility) profile (round 11)
# ---------------------------------------------------------------------------

def q_text_wordlen_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language — the tokenizer-fertility
    proxy checked before committing a BPE vocabulary to a corpus mix:
    a language whose word-length mass sits far right of the vocab's
    training mix will fragment into many subwords per word (high
    fertility = wasted sequence length). Per (lang, length): count and
    corpus share on the micro grid.

    Plan: tokenize+explode -> (lang, len) count (map-side combined;
    the key space is |langs| x ~30) -> broadcast-join the |langs|-row
    totals. Integer-exact, deterministic order.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("w"))
    cells = (
        tok.select("lang", F.length("w").cast("long").alias("wlen"))
        .groupBy("lang", "wlen")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("_tot"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "wlen",
            "n",
            F.expr("n * 1000000 div _tot").cast("long").alias("share_micro"),
        )
        .orderBy("lang", "wlen")
    )


Q_TEXT_WORDLEN_PROFILE_SQL = """
WITH tok AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS w
  FROM documents WHERE text IS NOT NULL
), cells AS (
  SELECT lang, CAST(len(w) AS BIGINT) AS wlen, CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY 1, 2
), totals AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY 1)
SELECT c.lang, c.wlen, c.n,
       CAST(c.n * 1000000 // t.tot AS BIGINT) AS share_micro
FROM cells c JOIN totals t ON t.lang = c.lang
ORDER BY c.lang, c.wlen
"""


# ---------------------------------------------------------------------------
# language-id confusion matrix (round 11)
# ---------------------------------------------------------------------------

def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the corpus's DECLARED language labels
    and the stopword-heuristic prediction (q_text_langid's classifier)
    — the label-quality audit run before trusting either side: a hot
    off-diagonal cell means mislabeled ingest or a classifier blind
    spot, and the per-declared-language share pinpoints which. Cells
    carry counts and the row-normalized share on the micro grid.

    Plan: the langid scorer is row-local (tokenize once, four bounded
    stopword counts), then one (declared, predicted) cell aggregate —
    |langs|^2 keys — and a broadcast of the |langs| row totals.
    """
    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", "lang", tokens(F.col("text")).alias("tok"))
    s2 = s1.select(
        "lang",
        *[
            _stop_count(F.col("tok"), words).alias(f"{la}_cnt")
            for la, words in STOPSETS.items()
        ],
    )
    en, de, fr, es = (F.col(c) for c in ("en_cnt", "de_cnt", "fr_cnt", "es_cnt"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("und")
    )
    cells = (
        s2.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("_tot"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "pred_lang",
            "n",
            F.expr("n * 1000000 div _tot").cast("long").alias("share_micro"),
        )
        .orderBy("lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve (round 11)
# ---------------------------------------------------------------------------

HEAPS_CHECKPOINT_EVERY = 50  # emit every 50th document


def q_text_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative token count vs
    cumulative DISTINCT type count in doc_id order, emitted at every
    50th document — the corpus-planning curve (V ~ K*N^beta) that says
    how much new vocabulary the next 10x of data buys, and the input
    to tokenizer-vocab sizing. A flattening curve means the corpus is
    saturating (more data, few new types — dedup/diversity problem).

    Distributed first-seen semantics with NO ordered scan: a type's
    first occurrence is min(doc_id) over its postings (one aggregate),
    new-type counts bucket by that first doc, and both cumulative
    tracks run through two_phase_cumsum (integral values, total order
    on doc_id) — the same machinery as the coverage sweep-line, so no
    single-partition window at any corpus size.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    per_doc = d.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("_nt")
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("_fd"))
    new_types = first_seen.groupBy("_fd").agg(
        F.count("*").cast("long").alias("_new")
    )
    base = per_doc.join(
        new_types, per_doc["doc_id"] == new_types["_fd"], "left"
    ).select(
        "doc_id",
        "_nt",
        F.coalesce("_new", F.lit(0)).cast("long").alias("_new"),
    )
    c1 = two_phase_cumsum(base, "_nt", [F.col("doc_id").asc()], out_col="cum_tokens")
    c2 = two_phase_cumsum(c1, "_new", [F.col("doc_id").asc()], out_col="cum_types")
    return (
        c2.where(F.col("doc_id") % HEAPS_CHECKPOINT_EVERY == 0)
        .select("doc_id", "cum_tokens", "cum_types")
        .orderBy("doc_id")
    )


Q_TEXT_HEAPS_CURVE_SQL = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS w
  FROM d
), per_doc AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS BIGINT) AS nt
  FROM d
), first_seen AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
new_types AS (SELECT fd, CAST(count(*) AS BIGINT) AS nn
              FROM first_seen GROUP BY fd),
base AS (
  SELECT p.doc_id, p.nt, CAST(coalesce(n.nn, 0) AS BIGINT) AS nn
  FROM per_doc p LEFT JOIN new_types n ON n.fd = p.doc_id
)
SELECT doc_id,
       CAST(sum(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
       CAST(sum(nn) OVER (ORDER BY doc_id) AS BIGINT) AS cum_types
FROM base
QUALIFY doc_id % {HEAPS_CHECKPOINT_EVERY} = 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition screens (round 11, session 2)
# ---------------------------------------------------------------------------

def q_text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram repetition screens in the Gopher
    (Rae et al. 2021, table A1) family: the fraction of the document
    covered by its single most-frequent token 2-gram, and the fraction
    of token-5-gram positions that are duplicates of an earlier
    position — the two rules that catch boilerplate loops and
    copy-paste padding that per-type statistics (TTR, hapax, entropy)
    miss, because a document can repeat one PHRASE forever while its
    token mix still looks diverse.

    Both ratios land integer-exact on the micro grid:
    ``top2_frac_micro  = max 2-gram count * 1e6 div n_2grams`` and
    ``dup5_frac_micro  = (n_5grams - distinct 5-grams) * 1e6 div
    n_5grams``. Docs with < 2 (resp. < 5) tokens emit NULL for that
    screen rather than a fake 0 — the guard is CASE-lazy so the
    sequence/element_at machinery never sees an empty gram list.

    Plan shape: map-only scan projection — grams are row-local
    ``transform(sequence(...))`` arrays over the let-bound token list,
    the max-count comes from the shared run-length fold
    (O(G log G) per row), and the distinct count is ``array_distinct``
    — NO explode and NO shuffle at any corpus size, the same argument
    as q_text_entropy. At 100 TB this is embarrassingly parallel with
    the scan.
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())

    def grams_of(t, n: int):
        idx = F.sequence(F.lit(1), F.size(t) - F.lit(n - 1))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[
                    F.try_element_at(t, (i + F.lit(j)).cast("int"))
                    for j in range(n)
                ],
            ),
        )

    def cols(t):
        nt = F.size(t)

        def two_stats(g2):
            return F.struct(
                F.size(g2).cast("long").alias("n2"),
                with_runlength_counts(
                    g2, lambda c: F.array_max(c).cast("long")
                ).alias("top2"),
            )

        def five_stats(g5):
            return F.struct(
                F.size(g5).cast("long").alias("n5"),
                (F.size(g5) - F.size(F.array_distinct(g5)))
                .cast("long")
                .alias("dup5"),
            )

        return F.struct(
            nt.cast("long").alias("n_tokens"),
            F.when(nt >= 2, let_bound(grams_of(t, 2), two_stats)).alias("s2"),
            F.when(nt >= 5, let_bound(grams_of(t, 5), five_stats)).alias("s5"),
        )

    s1 = d.select("doc_id", let_bound(tokens(F.col("text")), cols).alias("_r"))
    return (
        s1.select(
            "doc_id",
            "_r.n_tokens",
            F.col("_r.s2.top2").alias("top2_count"),
            F.expr("_r.s2.top2 * 1000000L div _r.s2.n2").alias(
                "top2_frac_micro"
            ),
            F.col("_r.s5.dup5").alias("dup5_count"),
            F.expr("_r.s5.dup5 * 1000000L div _r.s5.n5").alias(
                "dup5_frac_micro"
            ),
        )
        .where(F.col("n_tokens") > 0)
        .orderBy("doc_id")
    )


Q_TEXT_GOPHER_REPETITION_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         CASE WHEN len(t) >= 2 THEN
           list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1]) END AS g2,
         CASE WHEN len(t) >= 5 THEN
           list_transform(range(1, len(t) - 3),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               || ' ' || t[i+3] || ' ' || t[i+4]) END AS g5
  FROM tok WHERE len(t) > 0
), stats AS (
  SELECT doc_id, n_tokens,
         CAST(list_max(list_transform(list_distinct(g2),
              c -> len(list_filter(g2, x -> x = c)))) AS BIGINT) AS top2_count,
         CAST(len(g2) AS BIGINT) AS n2,
         CAST(len(g5) - len(list_distinct(g5)) AS BIGINT) AS dup5_count,
         CAST(len(g5) AS BIGINT) AS n5
  FROM base
)
SELECT doc_id, n_tokens, top2_count,
       CAST(top2_count * 1000000 // n2 AS BIGINT) AS top2_frac_micro,
       dup5_count,
       CAST(dup5_count * 1000000 // n5 AS BIGINT) AS dup5_frac_micro
FROM stats ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# RAKE-style keyword extraction (round 11, session 2)
# ---------------------------------------------------------------------------

# RAKE phrase delimiters: the fixed English stopword set (mirrored as a
# literal list in the oracle SQL so the two engines can never drift).
RAKE_STOPWORDS: list[str] = STOPSETS["en"]
RAKE_TOP_K = 25


def _rake_phrases(t):
    """Stopword-delimited candidate phrases of token array ``t`` —
    row-local. Position i's group id = number of stopword tokens in
    the prefix 1..i; non-stop positions sharing a group id form one
    phrase. O(n^2) per row in the prefix counts, which is bounded by
    the document token count (the same bound every row-local text fold
    here carries) and trades a corpus-wide posexplode + window shuffle
    for per-row arithmetic."""
    n = F.size(t)
    idx = F.sequence(F.lit(1), n)

    def is_stop(x):
        return x.isin(*RAKE_STOPWORDS)

    def with_grps(grps):
        keep = F.filter(
            idx, lambda i: ~is_stop(F.element_at(t, i))
        )
        gids = F.array_distinct(
            F.transform(keep, lambda i: F.element_at(grps, i))
        )
        return F.transform(
            gids,
            lambda g: F.concat_ws(
                " ",
                F.transform(
                    F.filter(keep, lambda i: F.element_at(grps, i) == g),
                    lambda i: F.element_at(t, i),
                ),
            ),
        )

    return let_bound(
        F.transform(
            idx, lambda i: F.size(F.filter(F.slice(t, 1, i), is_stop))
        ),
        with_grps,
    )


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level RAKE keyword extraction (Rose et al. 2010):
    stopword-delimited token runs are candidate phrases; each word
    scores degree/frequency (degree = summed length of the phrase
    occurrences containing it — co-occurrence counting including
    self); a phrase scores the sum of its member words' scores. The
    classic cheap keyword extractor corpus-curation pipelines run to
    label shards by topic without an ML model.

    Integer-exact end to end: word score is
    ``degree * 1e6 div freq`` on DECIMAL(38,0)/HUGEINT (degree can
    pass 1e12 at corpus scale, so the multiply is wide), and the
    phrase score is an integer SUM of member-word scores — no float
    anywhere, so the top-K order is deterministic under the
    (score DESC, phrase ASC) total order.

    Plan shape: phrase construction is ROW-LOCAL (no posexplode /
    window over token positions — see _rake_phrases); then one
    explode to phrase occurrences, a count per distinct phrase
    (map-side combined), a word-level aggregate over the DISTINCT
    phrase table (already collapsed — the heavy occurrence counts
    ride along as n_occ, so the word shuffle moves one row per
    (phrase, word-position), not per occurrence), one join back, and
    a global top-K via orderBy().limit() — TakeOrdered, no full sort.
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).where(F.col("text").isNotNull())
    ph = (
        d.select(
            F.explode(
                let_bound(tokens(F.col("text")), _rake_phrases)
            ).alias("phrase")
        )
        .where(F.col("phrase") != "")
    )
    occ = ph.groupBy("phrase").agg(F.count("*").cast("long").alias("n_occ"))
    w = occ.select(
        "phrase",
        "n_occ",
        F.size(F.split(F.col("phrase"), " ")).cast("long").alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    ws = w.groupBy("word").agg(
        F.sum("n_occ").cast("long").alias("freq"),
        F.sum(F.col("n_occ") * F.col("plen")).cast("long").alias("degree"),
    ).withColumn(
        "w_score",
        F.expr(
            "CAST(CAST(degree AS DECIMAL(38,0)) * 1000000 div freq AS BIGINT)"
        ),
    )
    scored = (
        w.join(ws.select("word", "w_score"), "word")
        .groupBy("phrase")
        .agg(
            F.first("n_occ").alias("n_occ"),
            F.sum("w_score").cast("long").alias("score_micro"),
        )
    )
    return scored.orderBy(
        F.col("score_micro").desc(), F.col("phrase").asc()
    ).limit(RAKE_TOP_K)


_RAKE_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in RAKE_STOPWORDS) + "]"

Q_TEXT_RAKE_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents WHERE text IS NOT NULL
), ph AS (
  SELECT unnest(
    list_transform(
      list_distinct(list_transform(
        list_filter(range(1, len(t) + 1),
                    i -> NOT list_contains({_RAKE_STOP_SQL}, t[i])),
        i -> len(list_filter(t[1:i],
                             x -> list_contains({_RAKE_STOP_SQL}, x))))),
      g -> array_to_string(
             list_transform(
               list_filter(range(1, len(t) + 1),
                           i -> NOT list_contains({_RAKE_STOP_SQL}, t[i])
                                AND len(list_filter(t[1:i],
                                        x -> list_contains({_RAKE_STOP_SQL},
                                                           x))) = g),
               i -> t[i]),
             ' ')
    )) AS phrase
  FROM tok WHERE len(t) > 0
), occ AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
  FROM ph WHERE phrase <> '' GROUP BY 1
), w AS (
  SELECT phrase, n_occ,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         unnest(string_split(phrase, ' ')) AS word
  FROM occ
), ws AS (
  SELECT word, CAST(sum(n_occ) AS BIGINT) AS freq,
         CAST(sum(n_occ * plen) AS BIGINT) AS degree
  FROM w GROUP BY 1
), wsc AS (
  SELECT word,
         CAST(CAST(degree AS HUGEINT) * 1000000 // freq AS BIGINT) AS w_score
  FROM ws
)
SELECT w.phrase, any_value(w.n_occ) AS n_occ,
       CAST(sum(wsc.w_score) AS BIGINT) AS score_micro
FROM w JOIN wsc ON wsc.word = w.word
GROUP BY w.phrase
ORDER BY score_micro DESC, phrase ASC
LIMIT {RAKE_TOP_K}
"""

