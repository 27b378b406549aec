"""Training-data pipeline query suite — [extension] (SURVEY.md §2b
north star).  Registers the operators/datapipe.py ops as driver-checked
queries; every oracle is GENERATED from the same constants/rule tables
as the Spark code (the ``*_sql`` twins), so Spark and DuckDB can't
drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from another_map_reduce_spark.operators.datapipe import (
    chunk_documents,
    chunk_documents_sql,
    normalize_text,
    normalize_text_sql,
    redact_pii,
    redact_pii_sql,
    split_assign,
    split_assign_sql,
)
from another_map_reduce_spark.queries import register
from another_map_reduce_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------


@register(
    "split_train_val_test",
    oracle=f"""
SELECT {split_assign_sql('doc_id')} AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY split
ORDER BY split
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable md5-keyed corpus split: per-split doc count + volume.

    The assignment is a pure projection (no shuffle beyond the final
    3-group aggregate); at 100 TB the split column is computed inline
    during the write and costs one md5 per row.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_assign(F.col("doc_id")))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Synthetic contact blurbs built from customer columns — the synthetic
# corpus contains no real PII, so the query *constructs* emails /
# phones / SSNs deterministically, then redacts them; the oracle
# replays both steps.  (In production the construction step is the raw
# corpus and only redact_pii runs.)
_CONTACT_SPARK = None  # built inline below
_CONTACT_SQL = (
    "'reach ' || lower(replace(c_name, '#', '.')) || '@example.com'"
    " || ' or 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')"
    " || CASE WHEN c_custkey % 3 = 0"
    " THEN ' ssn ' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')"
    " || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
    " ELSE '' END"
)


@register(
    "pii_redaction",
    oracle=f"""
SELECT c_custkey, {redact_pii_sql(_CONTACT_SQL)} AS redacted
FROM customer
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII masking over a synthesized contact string.

    Exercises all three rule classes (email, SSN-before-phone
    ordering, phone) on every engine-relevant shape; the redaction
    chain is three vectorised regexp_replace passes — scan speed,
    no shuffle at all (the driver compares the full 1500-row output).
    """
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    contact = F.concat(
        F.lit("reach "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com"),
        F.lit(" or 555-"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((key * 7) % 10000).cast("string"), 4, "0"),
        F.when(
            key % 3 == 0,
            F.concat(
                F.lit(" ssn "),
                F.lpad((key % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((key % 100).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((key % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    return cust.select("c_custkey", redact_pii(contact).alias("redacted"))


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 16


@register(
    "doc_chunks",
    oracle=chunk_documents_sql(
        chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    ),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows (64 tokens, 16 overlap) over the
    corpus — the full chunk table, hash-compared row-for-row."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )


# ---------------------------------------------------------------------------
# Text normalization
# ---------------------------------------------------------------------------


@register(
    "text_normalize_stats",
    oracle=f"""
SELECT doc_id,
       length({normalize_text_sql('text')}) AS norm_len,
       md5({normalize_text_sql('text')}) AS norm_fp
FROM documents
""",
)
def text_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalised text length + fingerprint per document — the
    normalize → fingerprint front half of every dedup pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_fp"),
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------


@register(
    "stratified_sample",
    oracle="""
WITH sampled AS (
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substring(md5('amrs-sample-v1' || CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '80' ELSE '1a' END
)
SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM sampled
GROUP BY lang
ORDER BY lang
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic corpus sampling: downsample dominant
    languages harder (en ≈ 50%, everything else ≈ 10%) — the standard
    rebalancing step before training-data mixing.

    The keep/drop decision is a per-row md5-prefix threshold
    (operators.datapipe.hash_sample) with the rate driven by the lang
    column — no rand() (rerun/retry-stable), no shuffle (pure
    projection pushed to the scan), rates adjustable per stratum
    without re-hashing.  id_checksum pins the EXACT sampled row set,
    not just its size.
    """
    from another_map_reduce_spark.operators.datapipe import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", "80").otherwise("1a")
    return (
        docs.where(hash_sample(F.col("doc_id"), rate))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "priority_sample_docs",
    oracle="""
WITH pr AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
         CAST(n_chars AS DOUBLE) /
           ((CAST('0x' || substr(md5('amrs-priority-v1'
                                     || CAST(doc_id AS VARCHAR)), 1, 13)
                  AS BIGINT) + 1) / 4503599627370496.0) AS q
  FROM documents
), ranked AS (
  SELECT doc_id, w, q,
         row_number() OVER (ORDER BY q DESC, doc_id) AS rn
  FROM pr
), tau AS (
  SELECT q AS t FROM ranked WHERE rn = 33
)
SELECT doc_id, CAST(w AS BIGINT) AS n_chars,
       round(q, 4) AS priority,
       round(GREATEST(w, (SELECT t FROM tau)), 4) AS ht_weight
FROM ranked WHERE rn <= 32
ORDER BY q DESC, doc_id
""",
)
def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY SAMPLING (Duffield–Lund–Thorup 2007) of 32 documents
    weighted by n_chars (`operators.datapipe.priority_sample`): the
    weight-aware fixed-size sample whose Horvitz–Thompson column
    ht_weight = max(w, τ) gives unbiased subset-sum estimates — the
    third member of the sampling family (stratified = rate per
    stratum, class-balanced = equal counts, priority = optimal for
    subset-SUM estimation under heavy-tailed weights).

    Priorities are w/u with u drawn bit-identically on both engines
    from the 52-bit md5 hash of the doc id (no rand()), so the kept
    set, τ, and every HT weight hash-match the SQL replay exactly.
    Selection is Spark's distributed top-(k+1) (per-partition heads,
    (k+1)·P-row merge — never a global sort); the ranking window runs
    on the 33-row result.  [extension].
    """
    from another_map_reduce_spark.operators.datapipe import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    picked = priority_sample(
        docs, F.col("doc_id"), F.col("n_chars"), k=32
    )
    return picked.select(
        F.col("_key").alias("doc_id"),
        F.col("_w").cast("long").alias("n_chars"),
        F.round("_q", 4).alias("priority"),
        F.round("_ht", 4).alias("ht_weight"),
    ).orderBy(F.desc("_q"), "doc_id")


@register(
    "class_balanced_sample",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
             ORDER BY md5('amrs-balance-v1' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS rk
  FROM documents
), nmin AS (
  SELECT MIN(cnt) AS nmin
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY lang)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM ranked, nmin WHERE rk <= nmin
GROUP BY lang ORDER BY lang
""",
)
def class_balanced_sample_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact class-balanced downsampling (operators/datapipe.
    class_balanced_sample): every language keeps exactly the smallest
    language's row count, selected by deterministic md5 rank — the
    class-imbalance remedy stratified_sample's rate-based thinning
    can't guarantee (rates approximate proportions; rank equalizes
    them exactly).  id_checksum pins the EXACT kept row set on both
    engines, not just its size.

    Plan shape: one class-keyed exchange for the rank window + a
    1-row broadcast of the min class size; stable under reruns,
    repartitioning, and appends-with-new-keys.  [extension].
    """
    from another_map_reduce_spark.operators.datapipe import (
        class_balanced_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = class_balanced_sample(docs, "lang", F.col("doc_id"))
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Repetition signals + decontamination
# ---------------------------------------------------------------------------

_TOKS_SQL = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


@register(
    "doc_repetition_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id AS doc,
       CAST(SUM(c) AS BIGINT) AS total_grams,
       COUNT(*) AS distinct_grams,
       ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_gram_frac,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_gram_frac
FROM cnt GROUP BY doc_id ORDER BY doc
""",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition quality signals: duplicate
    bigram fraction and most-frequent-bigram mass (Rae et al. 2021
    repetition filters).  Gram multiset explode → (doc, gram) partial-
    aggregated counts → per-doc rollup; both shuffle keys bounded by
    document length, so the op is linear in corpus size."""
    from another_map_reduce_spark.operators.datapipe import repetition_stats

    return repetition_stats(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=2
    )


@register(
    "decontam_overlap",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 3)) AS t(i)
),
h AS (SELECT doc_id AS hdoc, gram FROM grams WHERE doc_id % 97 = 0),
c AS (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0)
SELECT c.doc_id AS doc,
       COUNT(DISTINCT gram) AS n_shared_grams,
       COUNT(DISTINCT hdoc) AS n_holdout_docs
FROM c JOIN h USING (gram)
GROUP BY doc
ORDER BY doc
""",
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination by token 4-gram overlap (the GPT-3
    appendix-C construction; docs with doc_id % 97 = 0 stand in for
    the held-out eval set).  Both sides shingle to distinct grams; the
    small holdout side broadcasts, so the corpus never shuffles before
    the per-doc aggregate."""
    from another_map_reduce_spark.operators.datapipe import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        "text",
        "doc_id",
        n=4,
    )


# ---------------------------------------------------------------------------
# Corpus-quality gates + mixing (operators/quality.py)
# ---------------------------------------------------------------------------

def _gopher_oracle() -> str:
    """Oracle generated from the SAME constants/rule fragment as the
    Spark code (operators/quality.py) so thresholds can't drift."""
    from another_map_reduce_spark.operators.quality import (
        MAX_MEAN_WORD_LEN,
        MAX_SYMBOL_RATIO,
        MAX_WORDS,
        MIN_ALPHA_WORD_RATIO,
        MIN_MEAN_WORD_LEN,
        MIN_STOPWORD_HITS,
        MIN_WORDS,
        gopher_flags_sql_columns,
    )

    return f"""
WITH m AS (
  SELECT lang, source, text,
{gopher_flags_sql_columns()}
  FROM documents
),
f AS (
  SELECT lang, source, n_words, word_chars,
    (n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}) AS ok_word_count,
    (mean_word_len >= {MIN_MEAN_WORD_LEN}
       AND mean_word_len <= {MAX_MEAN_WORD_LEN}) AS ok_mean_word_len,
    (alpha_word_ratio >= {MIN_ALPHA_WORD_RATIO}) AS ok_alpha_words,
    (symbol_word_ratio <= {MAX_SYMBOL_RATIO}) AS ok_symbol_ratio,
    (stopword_hits >= {MIN_STOPWORD_HITS}) AS ok_stopwords,
    (NOT contains(text, '{{')) AS ok_no_braces
  FROM m
)
SELECT lang, source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN ok_word_count AND ok_mean_word_len AND ok_alpha_words
                 AND ok_symbol_ratio AND ok_stopwords AND ok_no_braces
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  CAST(SUM(CASE WHEN ok_word_count THEN 0 ELSE 1 END) AS BIGINT)
      AS fail_word_count,
  CAST(SUM(CASE WHEN ok_mean_word_len THEN 0 ELSE 1 END) AS BIGINT)
      AS fail_mean_word_len,
  CAST(SUM(CASE WHEN ok_stopwords THEN 0 ELSE 1 END) AS BIGINT)
      AS fail_stopwords,
  round(CAST(SUM(word_chars) AS DOUBLE)
        / greatest(CAST(SUM(n_words) AS BIGINT), 1), 4) AS avg_word_len
FROM f
GROUP BY lang, source
ORDER BY lang, source
"""


@register("quality_filter_gopher", oracle=_gopher_oracle())
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 rule-filter report: per (lang, source) corpus slice,
    how many documents pass all quality gates and which rules reject
    the rest (Rae et al. 2021 A1.1 rule shapes; C4 §2.2 brace ban).

    Per-document flags are pure column expressions over one tokenize
    (no UDFs, no shuffle); the report is a single groupBy.  At 100 TB
    the gates run at scan speed and the report output is |lang×source|
    rows.  avg_word_len is SUM(int)/SUM(int) — one double division of
    exact integers, so cross-engine bit-stable.
    """
    from another_map_reduce_spark.operators.quality import (
        gopher_quality_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs)
    return (
        flags.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("pass_all").cast("long")).alias("n_pass"),
            F.sum((~F.col("ok_word_count")).cast("long")).alias(
                "fail_word_count"
            ),
            F.sum((~F.col("ok_mean_word_len")).cast("long")).alias(
                "fail_mean_word_len"
            ),
            F.sum((~F.col("ok_stopwords")).cast("long")).alias(
                "fail_stopwords"
            ),
            F.round(
                F.sum("word_chars").cast("double")
                / F.greatest(F.sum("n_words"), F.lit(1)),
                4,
            ).alias("avg_word_len"),
        )
        .orderBy("lang", "source")
    )


def _domain_mix_oracle() -> str:
    from another_map_reduce_spark.operators.quality import MIX_TEMPERATURE

    return f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(list_filter(
                regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
  round(CAST(n_tokens AS DOUBLE) / (SELECT SUM(n_tokens) FROM per), 6)
      AS token_share,
  round(pow(n_tokens, {MIX_TEMPERATURE})
        / (SELECT list_aggregate(
               list(pow(n_tokens, {MIX_TEMPERATURE})
                    ORDER BY pow(n_tokens, {MIX_TEMPERATURE})),
               'sum') FROM per), 6)
      AS mix_weight
FROM per
ORDER BY source
"""


@register("domain_mix_report", oracle=_domain_mix_oracle())
def domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix table: per-source doc/token counts, corpus token
    share, and temperature-0.5 sampling weight (upsamples small
    domains — the standard multi-domain smoothing; cf. The Pile's
    epochs-per-domain table).  One corpus shuffle (the groupBy), then
    1-row broadcast totals over |domains| rows."""
    from another_map_reduce_spark.operators.quality import domain_mix_report

    return domain_mix_report(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Duplicate-substring spans (Lee et al. 2022 exact-substring dedup signal)
# ---------------------------------------------------------------------------

_DUP_W = 10  # window length in tokens


@register(
    "dup_substring_stats",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
),
wins AS (
  SELECT doc_id,
         md5(array_to_string(w[i:i+{_DUP_W - 1}], ' ')) AS h
  FROM t, UNNEST(generate_series(1, len(w) - {_DUP_W - 1})) AS s(i)
  WHERE len(w) >= {_DUP_W}
),
dfreq AS (
  SELECT h, COUNT(DISTINCT doc_id) AS df_docs FROM wins GROUP BY h
),
per AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM wins JOIN dfreq USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_windows,
       round(CAST(coalesce(n_dup, 0) AS DOUBLE)
             / greatest(coalesce(n_windows, 0), 1), 6) AS dup_frac
FROM documents d LEFT JOIN per USING (doc_id)
ORDER BY d.doc_id
""",
)
def dup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring fraction: the share of
    W=10-token windows (stride 1, lowercased) that also occur in
    at least one OTHER document — the document-level signal of Lee et
    al. 2022's exact-substring deduplication, at token-window
    granularity.

    Scale shape: suffix arrays are the compact single-node structure;
    the Spark-native equivalent is the window-hash explode — ×(n-W+1)
    rows per doc but each row is a 32-byte digest, then three hash
    exchanges ((hash, doc) dedup for the exact doc-frequency count;
    hash → frequency; doc_id → per-doc fractions) — the window arrays
    are recomputed per branch rather than persisted, since re-running
    a scan-speed projection beats materialising an exploded frame
    larger than its input.  Hot windows (boilerplate) skew the groupBy
    as single hot keys — AQE splits them, and the df side of the join
    is one row per DISTINCT window, so the join itself cannot fan out.
    """
    from another_map_reduce_spark.operators.text_analysis import (
        _ws_tokens as _lower_ws_tokens,  # lowercased, empty-elided — the
        # SAME tokenizer whose SQL twin is _TOKS_SQL (shared above)
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = _lower_ws_tokens(F.col("text"))
    wins_arr = F.when(
        F.size(toks) < _DUP_W, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - _DUP_W + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, _DUP_W))),
        )
    )
    wins = docs.select("doc_id", F.explode(wins_arr).alias("h"))
    dfreq = wins.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df_docs")
    )
    # dfreq is one row per DISTINCT window — corpus-scale at real SF;
    # pin shuffle_hash so the planner never tries to broadcast it
    # (same corpus-broadcast guard as dedup.minhash_lsh_pairs).
    per = (
        wins.join(dfreq.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("df_docs") >= 2).cast("long")).alias(
                "n_dup_windows"
            ),
        )
    )
    zero = F.lit(0).cast("long")
    # `per` is one row per document — also corpus-scale; same guard.
    return (
        docs.select("doc_id")
        .join(per.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", zero).alias("n_windows"),
            F.coalesce("n_dup_windows", zero).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", zero).cast("double")
                / F.greatest(F.coalesce("n_windows", zero), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Length-grouped batching (padding-overhead report)
# ---------------------------------------------------------------------------

_BATCH_B = 32  # documents per batch


@register(
    "length_batching_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n FROM documents
),
strat AS (
  SELECT 'random' AS strategy, n,
         (ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          - 1) // {_BATCH_B} AS b
  FROM t
  UNION ALL
  SELECT 'sorted' AS strategy, n,
         (ROW_NUMBER() OVER (ORDER BY n, doc_id) - 1) // {_BATCH_B} AS b
  FROM t
),
per AS (
  SELECT strategy, b, MAX(n) * COUNT(*) - SUM(n) AS pad, SUM(n) AS tok
  FROM strat GROUP BY strategy, b
)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(SUM(pad) AS BIGINT) AS padded_tokens,
       round(CAST(SUM(pad) AS DOUBLE) / (SUM(pad) + SUM(tok)), 6)
           AS pad_frac
FROM per
GROUP BY strategy
ORDER BY strategy
""",
)
def length_batching_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-GROUPED BATCHING sign-off: the padding cost of batching
    documents B=32 at a time under (a) deterministic-random order
    (md5 of doc_id) vs (b) length-sorted order — each batch pads every
    member to its max length, so the report's pad_frac delta IS the
    compute a training run wastes by not length-bucketing (the
    standard dynamic-batching argument, quantified on this corpus).

    Both strategies batch one global stream via row_number DIV B —
    exact, and the honest semantics for a sign-off report; at 100 TB
    the production variant batches within (shard) partitions (the same
    window with a partitionBy, per-shard streams) and the report's
    numbers converge to this one as shards grow.  All-integer token
    accounting; one rounded double division per row.
    """
    from another_map_reduce_spark.operators.text_analysis import (
        _ws_tokens as _lower_ws_tokens,
    )
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_lower_ws_tokens(F.col("text"))).alias("n")
    )
    w_rand = Window.orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    w_sort = Window.orderBy(F.col("n"), F.col("doc_id"))
    strat = docs.select(
        F.lit("random").alias("strategy"),
        "n",
        ((F.row_number().over(w_rand) - 1) / _BATCH_B).cast("int").alias("b"),
    ).unionAll(
        docs.select(
            F.lit("sorted").alias("strategy"),
            "n",
            ((F.row_number().over(w_sort) - 1) / _BATCH_B)
            .cast("int")
            .alias("b"),
        )
    )
    per = strat.groupBy("strategy", "b").agg(
        (F.max("n") * F.count(F.lit(1)) - F.sum("n")).alias("pad"),
        F.sum("n").alias("tok"),
    )
    return (
        per.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("tok").cast("long").alias("total_tokens"),
            F.sum("pad").cast("long").alias("padded_tokens"),
            F.round(
                F.sum("pad").cast("double") / (F.sum("pad") + F.sum("tok")), 6
            ).alias("pad_frac"),
        )
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# Duplicate-substring EXCISION (the actionable half of Lee et al. 2022)
# ---------------------------------------------------------------------------


@register(
    "dup_substring_removal",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(w[i:i+{_DUP_W - 1}], ' ')) AS h
  FROM t, UNNEST(generate_series(1, len(w) - {_DUP_W - 1})) AS s(i)
  WHERE len(w) >= {_DUP_W}
),
duph AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
dpos AS (
  SELECT doc_id, list(pos ORDER BY pos) AS ps
  FROM wins WHERE h IN (SELECT h FROM duph) GROUP BY doc_id
),
k AS (
  SELECT t.doc_id, t.w,
         coalesce(dpos.ps, CAST([] AS BIGINT[])) AS ps,
         list_filter(range(1, len(t.w) + 1),
            i -> len(list_filter(coalesce(dpos.ps, CAST([] AS BIGINT[])),
                                 p -> p <= i AND p >= i - {_DUP_W - 1})) = 0)
           AS kept
  FROM t LEFT JOIN dpos USING (doc_id)
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed_tokens,
       CAST(len(list_filter(ps,
              p -> len(list_filter(ps, q -> q < p AND p <= q + {_DUP_W})) = 0))
            AS BIGINT) AS n_spans,
       coalesce(array_to_string(list_transform(kept, i -> w[i]), ' '), '')
           AS kept_text
FROM k
ORDER BY doc_id
""",
)
def dup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring EXCISION — the cleaned corpus, not
    just the signal: every token covered by a W=10-token window whose
    hash occurs in ≥2 distinct documents is removed, overlapping
    duplicated windows merging into spans, and the surviving tokens
    are re-joined as ``kept_text`` (Lee et al. 2022 ExactSubstr; like
    their released tool this removes EVERY copy of a duplicated span —
    no global survivor election, which is what keeps the operator
    embarrassingly parallel).

    Output: one row per document — original/removed token counts, the
    merged-span count, and the cleaned text (lowercased whitespace
    normalization, the same tokenizer as dup_substring_stats).

    Scale shape: identical exchange profile to dup_substring_stats
    (window-hash explode → hash groupBy → semi join back → doc_id
    group), plus ONE extra doc_id-keyed join to re-attach the dup
    positions to the token arrays.  The excision itself is scan-side
    higher-order functions — per token an EXISTS over that doc's dup
    positions, O(tokens × dup_windows) worst case per doc; a document
    that is mostly duplicate pays the quadratic corner, which is the
    explicit trade for keeping the hot path in codegen instead of a
    per-doc Python interval walk (an applyInPandas sorted-interval
    subtraction is the escape hatch if a corpus hits that corner).
    """
    from another_map_reduce_spark.operators.text_analysis import (
        _ws_tokens as _lower_ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = _lower_ws_tokens(F.col("text"))
    wins_arr = F.when(
        F.size(toks) < _DUP_W, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - _DUP_W + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, _DUP_W))),
        )
    )
    wins = docs.select(
        "doc_id", F.posexplode(wins_arr).alias("p0", "h")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    dup_h = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .where(F.col("df_docs") >= 2)
        .select("h")
    )
    # dup_h is one row per DISTINCT duplicated window — corpus-scale;
    # pin shuffle_hash (same corpus-broadcast guard as the stats twin).
    dpos = (
        wins.join(dup_h.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
    )
    w_col = F.col("w")
    base = docs.select("doc_id", toks.alias("w"))
    joined = (
        base.join(dpos.hint("shuffle_hash"), "doc_id", "left")
        .withColumn("ps", F.coalesce("ps", F.array().cast("array<int>")))
        # sequence(1, 0) infers step -1 → [1, 0]; guard the empty doc.
        .withColumn(
            "idx",
            F.when(
                F.size(w_col) < 1, F.array().cast("array<int>")
            ).otherwise(F.sequence(F.lit(1), F.size(w_col))),
        )
        .withColumn(
            "kept",
            F.filter(
                F.col("idx"),
                lambda i: ~F.exists(
                    F.col("ps"),
                    lambda p: (p <= i) & (p >= i - (_DUP_W - 1)),
                ),
            ),
        )
    )
    return joined.select(
        "doc_id",
        F.size(w_col).cast("long").alias("n_tokens"),
        (F.size(w_col) - F.size("kept")).cast("long").alias(
            "n_removed_tokens"
        ),
        F.size(
            F.filter(
                F.col("ps"),
                lambda p: ~F.exists(
                    F.col("ps"), lambda q: (q < p) & (p <= q + _DUP_W)
                ),
            )
        ).cast("long").alias("n_spans"),
        F.concat_ws(
            " ", F.transform("kept", lambda i: F.element_at(w_col, i))
        ).alias("kept_text"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# End-to-end corpus build: quality gate → fingerprint dedup → split
# ---------------------------------------------------------------------------

def _corpus_build_oracle() -> str:
    from another_map_reduce_spark.operators.quality import (
        gopher_flags_sql_columns,
        gopher_pass_sql_predicate,
    )
    from another_map_reduce_spark.operators.text_analysis import (
        FINGERPRINT_SQL as _FP,
    )

    return f"""
WITH m AS (
  SELECT doc_id, lang, text,
{gopher_flags_sql_columns()}
  FROM documents
),
pass AS (
  SELECT doc_id, lang, n_words, {_FP} AS fp
  FROM m WHERE {gopher_pass_sql_predicate()}
),
surv AS (
  SELECT doc_id, lang, n_words FROM pass
  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
)
SELECT {split_assign_sql('doc_id')} AS split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens
FROM surv
GROUP BY split, lang
ORDER BY split, lang
"""


@register("corpus_build_report", oracle=_corpus_build_oracle())
def corpus_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled training-corpus build, end to end: Gopher rule
    gate → normalized-fingerprint exact dedup (min-id survivor) →
    deterministic md5 split assignment → per (split, lang) shard
    accounting.  The composition story: every stage is one of this
    engine's first-class operators, chained as plain DataFrame ops.

    Scale shape: the gate and the fingerprint are scan-side
    projections; dedup is ONE hash exchange on the 16-byte
    fingerprint (min-id window); the split is another projection; the
    report aggregates |splits×langs| rows.  Nothing re-reads or
    re-shuffles the corpus beyond that single dedup exchange.
    """
    from pyspark.sql.window import Window

    from another_map_reduce_spark.operators.quality import (
        gopher_quality_flags,
    )
    from another_map_reduce_spark.operators.text_analysis import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    passed = gopher_quality_flags(docs).where(F.col("pass_all"))
    fp = passed.withColumn("fp", fingerprint(F.col("text")))
    w = Window.partitionBy("fp")
    surv = fp.withColumn("_min_id", F.min("doc_id").over(w)).where(
        F.col("doc_id") == F.col("_min_id")
    )
    return (
        surv.withColumn("split", split_assign(F.col("doc_id")))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# Semantic dedup over embeddings (SemDeDup-style: near-pairs → clusters
# → min-id survivors)
# ---------------------------------------------------------------------------

_SEM_TAU = 0.4

_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(
          list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(a.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])))),
          9)
        >= {_SEM_TAU}
), edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
), removed AS (
  SELECT node FROM comp WHERE node <> component
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN r.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_removed,
       CAST(COUNT(*) - SUM(CASE WHEN r.node IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN removed r ON e.vec_id = r.node
GROUP BY label
ORDER BY label
"""


@register("semantic_dedup_stats", oracle=_SEMANTIC_DEDUP_SQL)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup accounting, SemDeDup-style
    (Abbas et al. 2023): WITHIN each pre-assigned cluster (the
    ``label`` column stands in for the paper's k-means cell id),
    exact cosine near-pairs at τ=0.4 → transitive closure → keep each
    group's min-id vector; report per-label totals, removals,
    survivors.

    Faithful to the paper's cost model: candidate generation is one
    equi-join on the cluster id and the quadratic pair scoring is
    CONFINED to cells — at 100 TB the cell granularity (k ≈ n/target
    cell size) bounds per-cell work, and a hot cell is a single join
    key AQE's skew handling splits.  Per-pair work is ONE dot-product
    fold: norms are computed once per VECTOR before the join (the
    naive per-pair cosine re-derives both norms per candidate — 3×
    the HOFs; measured 10.2 s → ~4 s at sf0.1).  Floating-point shape
    (left-fold dot, n1·n2 product, single divide) matches the
    oracle's list_dot_product/sqrt expression exactly, so the rounded
    threshold comparison is bit-identical cross-engine.  Clustering
    is operators/graph.connected_components (union-find on the driver
    while the pairs fit its byte bound, Kiveris rounds above it);
    the oracle recomputes everything from first principles
    (within-label brute force + recursive-CTE reachability).
    """
    from another_map_reduce_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )
    from another_map_reduce_spark.operators.graph import (
        connected_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    s1 = base.select(
        F.col("vec_id").alias("v1"),
        "label",
        F.col("embedding").alias("e1"),
        F.col("nrm").alias("n1"),
    )
    s2 = base.select(
        F.col("vec_id").alias("v2"),
        "label",
        F.col("embedding").alias("e2"),
        F.col("nrm").alias("n2"),
    )
    pairs = (
        s1.join(s2, "label")
        .where(F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            (
                dot_product(F.col("e1"), F.col("e2"))
                / (F.col("n1") * F.col("n2"))
            ).alias("cos"),
        )
        # round to 9 dp on BOTH engines before the τ comparison: the
        # membership of a knife-edge pair must not hinge on Spark's HOF
        # left-fold being bit-identical to DuckDB's list_dot_product
        # (one flipped pair changes a whole connected component).
        .where(F.round(F.col("cos"), 9) >= _SEM_TAU)
        .select("v1", "v2")
    )
    comp = connected_components(pairs, "v1", "v2")
    removed = comp.where(F.col("node") != F.col("component")).select("node")
    joined = emb.join(
        removed, emb["vec_id"] == removed["node"], "left"
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.col("node").isNotNull().cast("long")).alias(
                "n_dup_removed"
            ),
        )
        .withColumn(
            "n_kept", F.col("n_vectors") - F.col("n_dup_removed")
        )
        .orderBy("label")
    )


_PPS_N = 200  # systematic sample target size

_PPS_SQL = f"""
WITH w AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(38,6)) AS w
  FROM orders
), c AS (
  SELECT *, SUM(w) OVER (ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
  FROM w
), t AS (
  SELECT CAST(SUM(w) AS DOUBLE) / {_PPS_N} AS step FROM w
), k AS (
  SELECT o_orderkey, o_orderpriority, w FROM c
  WHERE floor(CAST(cum AS DOUBLE) / (SELECT step FROM t)) >
        floor(CAST(cum - w AS DOUBLE) / (SELECT step FROM t))
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(SUM(w) AS DOUBLE) AS kept_weight
FROM k GROUP BY 1 ORDER BY 1
"""


@register("pps_systematic_sample", oracle=_PPS_SQL)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling — the
    weighted complement of the equal-probability rows (stratified =
    per-stratum rate, class_balanced = exact per-class count): a row
    is kept iff its weight interval [cum−w, cum) crosses a step
    boundary, so inclusion probability ∝ weight, heavy rows are
    kept with certainty, and the whole draw is DETERMINISTIC (no RNG
    — reruns, retries, and repartitioning cannot change the sample).

    Scale shape — the distributed PREFIX SUM: a global running sum is
    the textbook "needs one partition" trap (WindowExec with no
    PARTITION BY), so the cumsum is computed as (1) range-partition
    by key, (2) per-partition window cumsum — parallel, (3) per-
    partition totals (a |partitions|-row frame) prefix-folded and
    broadcast back as offsets.  Correctness under that decomposition
    needs ASSOCIATIVE addition, so weights are cast to DECIMAL(38,6)
    first: offset+local re-association is exact, and the oracle's
    single sequential fold produces bit-identical cumulative values —
    the boundary test floor(cum/step) then agrees row-for-row
    cross-engine (single IEEE ops on identical inputs).  The
    key_checksum pins the exact kept SET, not just its size.
    [extension].
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(38,6)").alias("w"),
    )
    from another_map_reduce_spark.session import shuffle_width

    width = shuffle_width(spark)
    parted = o.repartitionByRange(width, "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    wloc = (
        Window.partitionBy("pid")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Materialized once: BOTH consumers (the offset fold and the final
    # join) must see the SAME partition assignment — repartitionByRange
    # samples its boundaries, and two independent computations of this
    # subtree may bucket rows differently, desynchronizing pid → offset.
    local = parted.withColumn(
        "lcum", F.sum("w").over(wloc)
    ).localCheckpoint(eager=True)
    # |partitions|-row frame: exact per-partition totals, prefix-folded
    # into offsets (strictly-before sum), broadcast back.
    woff = (
        Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("pid")
        .agg(F.sum("w").alias("ptot"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("ptot").over(woff),
                F.lit(0).cast("decimal(38,6)"),
            ),
        )
        .select("pid", "offset")
    )
    cum = local.join(F.broadcast(offsets), "pid").withColumn(
        "cum", F.col("lcum") + F.col("offset")
    )
    # Grand total from the CHECKPOINTED frame — summing the source
    # again would pay a second full scan for an order-free decimal sum
    # the materialized rows already carry.
    total = local.agg(F.sum("w").cast("double").alias("tw"))
    kept = (
        cum.crossJoin(F.broadcast(total))
        .withColumn("step", F.col("tw") / F.lit(_PPS_N))
        .where(
            F.floor(F.col("cum").cast("double") / F.col("step"))
            > F.floor(
                (F.col("cum") - F.col("w")).cast("double") / F.col("step")
            )
        )
    )
    return (
        kept.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            F.sum("w").cast("double").alias("kept_weight"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Small-file compaction planner (offset binning over the file manifest)
# ---------------------------------------------------------------------------

_COMPACT_TARGET_ROWS = 2_000


@register(
    "compaction_bin_packing",
    oracle=f"""
WITH files AS (
  SELECT l_shipdate AS day, CAST(COUNT(*) AS BIGINT) AS rows_
  FROM lineitem GROUP BY l_shipdate
), offs AS (
  SELECT day, rows_,
         CAST(COALESCE(SUM(rows_) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS off
  FROM files
)
SELECT CAST(off // {_COMPACT_TARGET_ROWS} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(rows_) AS BIGINT) AS bin_rows,
       MIN(day) AS first_day,
       MAX(day) AS last_day
FROM offs GROUP BY bin ORDER BY bin
""",
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: treat each lineitem ship-day as one
    small file (rows = its size proxy) and assign consecutive files to
    target-size output bins by OFFSET BINNING — a file opens a new bin
    when the running offset before it crosses a multiple of the
    {_COMPACT_TARGET_ROWS}-row target.  This is the planning half of
    Delta/Iceberg OPTIMIZE and of Spark's own FilePartition packing:
    the operation that keeps a 100 TB table's file count (and thus its
    driver-side listing and task-scheduling cost) bounded as daily
    appends accumulate.

    Offset binning is chosen over greedy close-when-exceeding because
    it is a pure prefix sum — deterministic, engine-independent, and
    (unlike the greedy recursion) expressible as a window in both
    engines; bins overshoot the target by at most one file, the same
    bound the greedy rule gives.  The ordered cumsum runs over the
    file MANIFEST, not the data: its size is the file count (metadata
    scale — thousands, not billions), so the single-partition window
    sort is bounded; at extreme manifest sizes the same plan
    range-partitions by day and seeds each range with a per-range
    offset (the distributed-prefix-sum shape pps_systematic_sample
    already implements).  [extension].
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    files = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.count("*").alias("rows_")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = files.withColumn(
        "off", F.coalesce(F.sum("rows_").over(w), F.lit(0)).cast("long")
    )
    return (
        offs.groupBy(
            F.expr(f"off div {_COMPACT_TARGET_ROWS}")
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count("*").alias("n_files"),
            F.sum("rows_").cast("long").alias("bin_rows"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixture resampling (alpha = 0.5)
# ---------------------------------------------------------------------------

_MIX_TARGET_DOCS = 1_000


@register(
    "domain_temperature_sample",
    oracle=f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), wts AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
  FROM counts
), quotas AS (
  SELECT source, n_docs, w,
         CAST({_MIX_TARGET_DOCS} * w
              // (SELECT SUM(w) FROM wts) AS BIGINT) AS quota
  FROM wts
), ranked AS (
  SELECT d.source, d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                     d.doc_id) AS rk
  FROM documents d
), picked AS (
  SELECT r.source, r.doc_id, r.n_chars
  FROM ranked r JOIN quotas q ON r.source = q.source
  WHERE r.rk <= q.quota
)
SELECT q.source, q.n_docs, q.w, q.quota,
       CAST(COALESCE(COUNT(p.doc_id), 0) AS BIGINT) AS n_sampled,
       CAST(COALESCE(SUM(p.doc_id), 0) AS BIGINT) AS sum_sampled_ids,
       CAST(COALESCE(SUM(p.n_chars), 0) AS BIGINT) AS sampled_chars
FROM quotas q LEFT JOIN picked p ON q.source = p.source
GROUP BY q.source, q.n_docs, q.w, q.quota
ORDER BY q.source
""",
)
def domain_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling, the multilingual/
    multi-domain REBALANCING step of LLM data curation (Conneau &
    Lample 2019, alpha-sampling): head domains are downweighted and
    tail domains upweighted by sampling each domain in proportion to
    n_i^alpha with alpha = 0.5, here as an exact per-domain quota of a
    {_MIX_TARGET_DOCS}-doc target, then a deterministic md5-ranked
    pick of each domain's quota.

    Float discipline: the weight is floor(sqrt(n_i)) as an INTEGER
    (IEEE sqrt is correctly rounded and n < 2^52, so the floor is
    engine-exact), and the quota is integer multiply-then-floor-divide
    — no double summation anywhere, so quota boundaries can't flip
    between engines.  The pick ranks by (md5(doc_id), doc_id), the
    repo's seeded-uniform convention (split_assign, priority_sample).
    sum_sampled_ids pins the exact selected SET, not just its size.

    Scale shape: one count shuffle, then one rank window per domain.
    The window sorts each domain once; at 100 TB the same selection is
    a per-domain md5 THRESHOLD (quota/n-quantile of the hash, the
    priority_sample_docs shape), turning the sort into a scan —
    documented here, exact rank kept at test scale for the oracle.
    [extension].
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    wts = counts.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long"),
    )
    tot = wts.agg(F.sum("w").alias("tw"))
    quotas = wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w",
        # `div` is true INTEGER division (like the oracle's //): a
        # double `/`-then-floor could round a near-integer quotient up
        # across the boundary and disagree with DuckDB by one doc.
        F.expr(f"({_MIX_TARGET_DOCS} * w) div tw").cast("long").alias("quota"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    picked = (
        docs.withColumn("rk", rk)
        .join(F.broadcast(quotas.select("source", "quota")), "source")
        .where(F.col("rk") <= F.col("quota"))
    )
    agg = picked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sum_sampled_ids"),
        F.sum("n_chars").cast("long").alias("sampled_chars"),
    )
    return (
        # both sides are domain-cardinality aggregates; broadcast the
        # picked-side so the final merge never sort-merges
        quotas.join(F.broadcast(agg), "source", "left")
        .select(
            "source",
            "n_docs",
            "w",
            "quota",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("sum_sampled_ids", F.lit(0))
            .cast("long")
            .alias("sum_sampled_ids"),
            F.coalesce("sampled_chars", F.lit(0))
            .cast("long")
            .alias("sampled_chars"),
        )
        .orderBy("source")
    )


# Registry-order repair: if THIS module was the user's first import, the
# circular import through queries._load() saw it partially initialized
# and ordered the registry without its entries (they append afterwards).
# Re-running the idempotent reorder at module completion makes the
# driver-window ordering independent of which module is imported first.
from another_map_reduce_spark.queries import _reorder as _amrs_reorder  # noqa: E402

_amrs_reorder()
