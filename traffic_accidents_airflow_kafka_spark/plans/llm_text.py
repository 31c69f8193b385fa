"""Text analysis family: corpus prep, quality stats, token accounting, language-ID, PII scrub, fingerprints.

Segment of the LLM-pipeline catalog; ``plans/__init__.py`` imports every
segment in registration order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    dedup,
    quality,
    text as text_ops,
)
from ..sources.tables import load_table
from .registry import register

@register(
    "corpus_prep",
    oracle="""
    WITH dedup AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
      FROM documents
    ),
    kept AS (
      SELECT *,
             LEAST(n_tokens / 64.0, 1.0) * distinct_ratio AS quality
      FROM dedup
      WHERE doc_id = keeper_id
    )
    SELECT lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(CASE WHEN quality >= 0.5 AND n_tokens >= 16 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_high_quality,
           ROUND(AVG(quality), 4) AS avg_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """,
    doc="The composite training-data-prep flagship: exact dedup (keep "
    "lowest-id copy) → quality scoring (length × lexical diversity) → "
    "per-language corpus accounting with a high-quality cut — the "
    "dedup+filter+count pipeline every LLM data run starts with, as ONE "
    "declarative plan (dedup hash-join + window, codegen scoring, tiny "
    "final rollup). Scale: text never shuffles twice — the keeper "
    "window keys on md5 digests.",
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    deduped = dedup.exact_dedup(docs, "doc_id", "text").filter(~F.col("is_duplicate"))
    toks = text_ops.token_count("text")
    quality = F.least(toks / 64.0, F.lit(1.0)) * text_ops.distinct_token_ratio("text")
    scored = deduped.select(
        "lang", toks.alias("n_tokens"), quality.alias("quality")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(
                F.when((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 16), 1).otherwise(0)
            ).alias("n_high_quality"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "text_quality_stats",
    tier=1,  # r5 rotation: quality scoring stays judged via corpus_prep + curation_funnel
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
           ROUND(AVG(len(list_distinct(string_split(text, ' ')))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_distinct_ratio,
           ROUND(AVG(LEAST(len(string_split(text, ' ')) / 64.0, 1.0)
                     * (len(list_distinct(string_split(text, ' ')))
                        / CAST(len(string_split(text, ' ')) AS DOUBLE))), 4) AS avg_quality
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Text quality scoring per language: token counts, distinct-token "
    "ratio, composite quality (length × diversity) "
    "(operators/text.py:token_count/quality_score). Scale: pure codegen "
    "string ops; |langs| groups.",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.token_count("text").cast("double")
    ratio = text_ops.distinct_token_ratio("text")
    quality = F.least(toks / 64.0, F.lit(1.0)) * ratio
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(toks), 4).alias("avg_tokens"),
            F.round(F.avg(ratio), 4).alias("avg_distinct_ratio"),
            F.round(F.avg(quality), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@register(
    "token_accounting",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{text_ops.BPE_ISH_PATTERN}', 0)))
                AS BIGINT) AS bpe_ish_tokens,
           ROUND(SUM(len(regexp_extract_all(text, '{text_ops.BPE_ISH_PATTERN}', 0)))
                 / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 4)
             AS tokens_per_word
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Corpus token accounting: whitespace words vs BPE-ish pretokens "
    "(letter runs / single digits / punct runs — an RE2-compatible "
    "pattern so Spark's Java regex and DuckDB's RE2 agree match-for-"
    "match; operators/text.py:bpe_ish_tokens). tokens_per_word is the "
    "fertility estimate data budgets are priced in. Scale: pure codegen "
    "regex per row, |langs| groups shuffle.",
)
def token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = text_ops.token_count("text").cast("long")
    bp = text_ops.bpe_ish_token_count("text").cast("long")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).alias("ws_tokens"),
            F.sum(bp).alias("bpe_ish_tokens"),
            F.round(F.sum(bp) / F.sum(ws).cast("double"), 4).alias("tokens_per_word"),
        )
        .orderBy("lang")
    )


@register(
    "lang_id_confusion",
    oracle="""
    WITH scored AS (
      SELECT lang,
             len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to'))) AS s_en,
             len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','que'))) AS s_es,
             len(list_filter(string_split(text,' '), t -> t IN ('le','la','de','et','que'))) AS s_fr,
             len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','zu'))) AS s_de
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
               WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
               WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
               WHEN s_de > 0 THEN 'de'
               ELSE 'und'
             END AS predicted
      FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
    doc="Heuristic language ID: per-language stopword hit counts, argmax "
    "with first-wins tie-break, reported as a (labeled lang × predicted) "
    "confusion table (operators/text.py:predict_lang). Scale: codegen "
    "list_filter over tokens; broadcast-small stopword vocabularies.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", text_ops.predict_lang("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


@register(
    "pii_scrub_stats",
    tier=1,  # text-analysis family judged via quality/tokens/lang-id/fingerprints; redaction pinned by planted-fixture tests + local oracle
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{text_ops.PII_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(text, '{text_ops.PII_URL}'))) AS BIGINT) AS n_urls,
           CAST(SUM(len(regexp_extract_all(text, '{text_ops.PII_PHONE}'))) AS BIGINT) AS n_phones,
           CAST(SUM(CASE WHEN regexp_replace(regexp_replace(regexp_replace(text,
                    '{text_ops.PII_EMAIL}', '<EMAIL>', 'g'),
                    '{text_ops.PII_URL}', '<URL>', 'g'),
                    '{text_ops.PII_PHONE}', '<PHONE>', 'g') <> text
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="PII scrub audit — the standard pre-training redaction pass "
    "(operators/text.py:pii_counts/redact_pii): per-language email/URL/"
    "phone occurrence counts and how many docs change under redaction. "
    "Patterns are RE2-compatible so the SQL oracle matches match-for-"
    "match; redaction semantics (order, placeholders) are pinned by "
    "planted-fixture unit tests — the synthetic corpus itself carries "
    "no PII, which the all-zero counts certify. Scale: pure codegen "
    "regex per row; |langs| groups shuffle.",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = text_ops.pii_counts("text")
    redacted = text_ops.redact_pii("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(counts["emails"]).cast("bigint").alias("n_emails"),
            F.sum(counts["urls"]).cast("bigint").alias("n_urls"),
            F.sum(counts["phones"]).cast("bigint").alias("n_phones"),
            F.sum(F.when(redacted != F.col("text"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_redacted"),
        )
        .orderBy("lang")
    )


@register(
    "doc_fingerprints",
    tier=1,  # r6 rotation: engine-stable hashing is judged by every dedup
    # family row; the rolling-hash fingerprint keeps its local oracle +
    # unit tests
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fp_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              t -> CAST(len(t) * 131 + ascii(substr(t, 1, 1)) AS BIGINT))),
             (a, b) -> (a * {text_ops.ROLL_MULT} + b) % {text_ops.ROLL_MOD}
           ) AS fp_roll
    FROM documents
    ORDER BY doc_id
    LIMIT 100
    """,
    doc="Document fingerprinting: md5 content digest + order-sensitive "
    "polynomial rolling hash over tokens — identical folds in both "
    "engines (operators/text.py:token_fingerprint/content_hash). Scale: "
    "per-row codegen expressions, no shuffle at all.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            text_ops.content_hash("text").alias("fp_md5"),
            text_ops.token_fingerprint("text").alias("fp_roll"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


