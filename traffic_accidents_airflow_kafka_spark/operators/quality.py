"""Data-quality constraint auditing — declarative expectations over a
DataFrame, evaluated in ONE aggregate pass.

The reference enforces its contracts through Postgres DDL (NOT NULL, FK,
UNIQUE — dags/etl_crash_traffic.py:50-147) and crashes on violation at
load time. A lakehouse table has no DDL enforcement, so pipelines audit
instead: count violations per named rule and gate/alert on the result
(the Deequ/expectations idiom, rebuilt minimally).

Two shapes, matching what can and cannot be a row predicate:

- :func:`violation_counts` — row-level rules (null, range, enum, regex)
  as named boolean Columns, summed in a single hash-aggregate scan: cost
  is one pass regardless of rule count.
- :func:`duplicate_key_count` — uniqueness needs a groupBy on the key;
  one extra shuffle keyed on the candidate key, counting rows beyond the
  first per key.

Both return counts, not row samples — at 100 TB the audit result must be
O(rules), never O(violations); drill-down queries fetch examples on
demand.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def violation_counts(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Count rows violating each named predicate (predicate = TRUE means
    the row VIOLATES the rule). One aggregate pass; output long-form
    (check_name, n_violations) for stable schemas as rules evolve."""
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).alias(name)
        for name, pred in checks.items()
    ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{name}', {name}" for name in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)"
    )


def duplicate_key_count(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Rows carrying a non-unique key, as (check_name, n_violations):
    total rows minus distinct keys — the UNIQUE-constraint audit."""
    dup = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") - 1).alias("n_violations"))
    )
    name = "unique_" + "_".join(key_cols)
    return dup.select(F.lit(name).alias("check_name"), F.coalesce("n_violations", F.lit(0)).alias("n_violations"))


# ---------------------------------------------------------------------------
# Repetition-based quality filters (Gopher/MassiveText rule family: Rae et
# al. 2021 appendix A1.1; reused by RefinedWeb, FineWeb, Dolma). A document
# is low-quality when one n-gram dominates it (top n-gram coverage) or when
# a large fraction of its longer n-grams are internal repeats. Per-document
# aggregates over the doc's own n-gram multiset — no cross-document state.
#
# Spark shape: explode n-grams → two-level aggregate keyed by (doc, gram)
# then (doc). The (doc, gram) key is produced clustered by the explode, so
# the first aggregation combines almost entirely map-side; the second is
# |docs| keys. Document bodies never shuffle — only (id, gram-count) rows.
# This per-doc-distributed shape is deliberate: a higher-order-function
# version over the in-row token array would be O(len²) per doc and would
# serialize giant docs into single tasks, exactly what kills web-crawl
# corpora with MB-scale outlier documents.


def _per_doc_gram_profile(
    df: DataFrame, id_col: str, text_col: str, n: int, prefix: str
) -> DataFrame:
    """Per-doc n-gram profile: ``{prefix}_total`` (instances),
    ``{prefix}_distinct``, ``{prefix}_top`` (count of the modal gram).
    Docs shorter than ``n`` words drop out (rejoined by the caller).

    Gram keying (r10, the positional_ngrams optimization applied here):
    the gram is ONLY a grouping key — the profile never reads its text —
    so each word is hashed once into a per-row long array (own Project:
    the multiple references below keep CollapseProject from inlining it
    per gram) and the key is the xxhash64 of the n-long slice; the
    explode/shuffle then carries 8-byte longs instead of built n-word
    concat strings. Counts are identical up to xxhash64 collisions
    (birthday-bounded ~2^32 distinct grams; the DuckDB oracles group by
    the literal gram text, so parity doubles as the collision check)."""
    words = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col),
        F.transform(words, lambda w: F.xxhash64(w)).alias("__wh"),
    ).filter(F.size("__wh") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__wh") - (n - 1)),
        lambda i: F.xxhash64(F.slice("__wh", i, n)),
    )
    return (
        base.select(F.col(id_col), F.explode(grams).alias("__gh"))
        .groupBy(id_col, "__gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias(f"{prefix}_total"),
            F.count(F.lit(1)).alias(f"{prefix}_distinct"),
            F.max("cnt").alias(f"{prefix}_top"),
        )
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_bigram_threshold: float = 0.18,
    dup_fivegram_threshold: float = 0.15,
) -> DataFrame:
    """Per-document repetition metrics + the composite ``repetitive`` flag.

    Output per doc: bigram profile (``bi_total``/``bi_distinct``/``bi_top``),
    5-gram profile (``five_*``), ``top_bigram_frac`` (tokens covered by the
    modal bigram / total tokens, the token-denominated Gopher coverage),
    ``dup_fivegram_frac`` (fraction of 5-gram instances that are repeats),
    ``repetitive`` (either fraction over its threshold). Short docs get
    zero-filled profiles and fractions of 0.0.

    Shape finding (r6 shuffle-count audit, measured at sf0.1 isolated,
    min-of-2 fresh builds): this two-branch explode → hash-aggregate
    form is the WALL-CLOCK OPTIMUM despite being the shuffle-count
    maximum. Three shapes were built and measured on the catalog entry:
    (a) this one — 2.77 s, 12 exchanges; (b) a tagged single-explode
    (struct(n, gram)) double-aggregate — 7.39 s, 8 exchanges; (c) an
    in-row array_sort + run-length F.aggregate scan (zero gram
    shuffles) — 6.60 s string-sorted / 3.81 s xxhash64-sorted, 4
    exchanges. Higher-order-function lambdas evaluate INTERPRETED,
    while explode + hash aggregation runs whole-stage-codegen'd
    Tungsten — at any scale where CPU beats network, (a) wins, and its
    shuffle rows are (id, gram, count) partial aggregates, never text.
    On a bandwidth-starved cluster, (c) with hashed grams is the
    fallback (collision risk ~L^2/2^65 per doc, same trust as
    repeated_spans' xxhash64 gram identity). The exchanges here are
    distinct-key-irreducible: (id, gram) and (id) aggregates need
    different keys, and the two gram lengths double-count only
    byte-identical scan stages Spark already reuses.
    """
    base = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("n_tokens")
    )
    bi = _per_doc_gram_profile(df, id_col, text_col, 2, "bi")
    five = _per_doc_gram_profile(df, id_col, text_col, 5, "five")
    joined = (
        base.join(bi, id_col, "left")
        .join(five, id_col, "left")
        .na.fill(
            0,
            [
                "bi_total",
                "bi_distinct",
                "bi_top",
                "five_total",
                "five_distinct",
                "five_top",
            ],
        )
    )
    top_bigram_frac = F.when(
        F.col("n_tokens") > 0,
        F.col("bi_top") * 2 / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    dup_fivegram_frac = F.when(
        F.col("five_total") > 0,
        (F.col("five_total") - F.col("five_distinct"))
        / F.col("five_total").cast("double"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        id_col,
        "n_tokens",
        "bi_total",
        "bi_distinct",
        "bi_top",
        "five_total",
        "five_distinct",
        top_bigram_frac.alias("top_bigram_frac"),
        dup_fivegram_frac.alias("dup_fivegram_frac"),
        (
            (top_bigram_frac > F.lit(top_bigram_threshold))
            | (dup_fivegram_frac > F.lit(dup_fivegram_threshold))
        ).alias("repetitive"),
    )
