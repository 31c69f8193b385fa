"""Filtering / decontamination family: word-8-gram and semantic (exact + LSH-bucketed) decontamination, repetition and model-based filters, mixture planning, DSIR.

Segment of the LLM-pipeline catalog; ``plans/__init__.py`` imports every
segment in registration order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    decontam,
    dsir,
    quality,
    sampling,
    similarity,
    text as text_ops,
)
from ..sources.tables import load_table
from .registry import register
from .llm_curation import (
    SEMANTIC_CONTAM_COSINE,
    _decontam_oracle,
    _semantic_decontam_oracle,
)
from .llm_shared import _sql_dot, _sql_fold_dot

@register(
    "semantic_decontamination",
    tier=1,  # extended decontamination surface: the n-gram family's
    # tier-0 representative is decontamination_report; cosine machinery
    # judged via retrieval_metrics/SQ8
    oracle=_semantic_decontam_oracle(SEMANTIC_CONTAM_COSINE),
    doc="Embedding-level eval-vs-train decontamination — the companion "
    "check frontier-model reports pair with n-gram digests: flag "
    "training items whose EMBEDDING sits too close to any benchmark "
    "item, catching the paraphrases and translations 8-gram matching "
    "(decontamination_report) cannot see "
    "(operators/decontam.py:semantic_contamination). The eval set "
    "(vec_id < 50, the benchmark stand-in) collapses to a ONE-ROW "
    "broadcast array and every corpus vector folds over it in place — "
    "sequential-fold cosines, max with smallest-qid tie-break "
    "(order-free, so collect_list nondeterminism is harmless) — ZERO "
    "shuffle; only the report's TakeOrdered moves rows. Exact-parity "
    "folds make the whole audit value-hash. Flag threshold is corpus-"
    "calibrated (~top decile; a real benchmark run sets ~0.9+). "
    "Scale: O(|corpus| x |benchmark|) map work with the benchmark side "
    "bounded by contract — the same linear-scan shape the "
    "decontamination digests use, no index required; at extreme "
    "benchmark sizes the LSH/IVF tiers pre-bucket the same fold.",
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = decontam.semantic_contamination(
        emb.filter(F.col("vec_id") >= 50),
        emb.filter(F.col("vec_id") < 50),
        threshold=SEMANTIC_CONTAM_COSINE,
    )
    return (
        scored.orderBy(F.desc("__cos"), "nid")
        .limit(200)
        .select(
            "nid",
            "best_eval_id",
            F.round("__cos", 4).alias("best_cosine"),
            "contaminated",
        )
    )


def _semantic_decontam_lsh_oracle(
    threshold: float,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    limit: int = 200,
) -> str:
    """Plane-literal replay of semantic_contamination_lsh: same seeded
    hyperplanes, same sign-pattern buckets, eval-side Hamming-1 probe
    union, exact-fold candidate cosines with the zero-norm sentinel,
    per-corpus-row best by (cos DESC, qid ASC), LSH misses at -2.0."""
    planes = similarity.hyperplane_planes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p, dim)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    vnorm = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        "j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))), "
        "(a, b) -> a + b))"
    )
    pair_dot = _sql_fold_dot("c.nvec", "p.qvec", dim)
    probe_list = ", ".join(f"xor(qbucket, {1 << i})" for i in range(n_planes))
    return f"""
    WITH bkt AS (
      SELECT vec_id, embedding,
             CAST({bucket} AS BIGINT) AS bucket,
             {vnorm} AS nrm
      FROM embeddings
    ),
    e AS (
      SELECT vec_id AS qid, embedding AS qvec, nrm AS qnorm,
             bucket AS qbucket
      FROM bkt WHERE vec_id < 50
    ),
    probes AS (
      SELECT qid, qvec, qnorm,
             unnest(list_prepend(qbucket, [{probe_list}])) AS bucket
      FROM e
    ),
    c AS (
      SELECT vec_id AS nid, embedding AS nvec, bucket, nrm AS nnorm
      FROM bkt WHERE vec_id >= 50
    ),
    sims AS (
      SELECT c.nid, p.qid,
             CASE WHEN c.nnorm * p.qnorm > 0
                  THEN {pair_dot} / (c.nnorm * p.qnorm)
                  ELSE -2.0 END AS cos
      FROM c JOIN probes p ON p.bucket = c.bucket
    ),
    best AS (
      SELECT nid, qid, cos FROM (
        SELECT nid, qid, cos,
               ROW_NUMBER() OVER (PARTITION BY nid
                                  ORDER BY cos DESC, qid) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    allc AS (
      SELECT c.nid, b.qid, COALESCE(b.cos, -2.0) AS cos
      FROM c LEFT JOIN best b ON c.nid = b.nid
    )
    SELECT nid, CAST(qid AS BIGINT) AS best_eval_id,
           ROUND(cos, 4) AS best_cosine,
           (cos >= {threshold}) AS contaminated
    FROM allc
    ORDER BY cos DESC, nid LIMIT {limit}
    """


@register(
    "semantic_decontamination_lsh",
    tier=0,  # r8 self-rotation INTO the judged window: the bucketed
    # 100 TB decontamination path, plane-literal full oracle
    oracle=_semantic_decontam_lsh_oracle(SEMANTIC_CONTAM_COSINE),
    doc="LSH-bucketed embedding decontamination — the 100 TB form of "
    "semantic_decontamination for eval suites past the broadcast bound "
    "(operators/decontam.py:semantic_contamination_lsh): both sides "
    "bucket by the seeded sign-pattern hyperplanes, the SMALL eval "
    "side multi-probes home + Hamming-1 buckets (recall spent on the "
    "cheap side, so the corpus buckets exactly once), candidates join "
    "on bucket id with the eval side broadcast, and per-row best "
    "cosine is an order-free max-struct aggregate. Candidate cosines "
    "are the exact-parity fold, so the variant can only UNDER-flag vs "
    "the exact fold, never false-positive — the subset/equality "
    "properties are pinned against semantic_decontamination in "
    "tests/test_semantic_lsh.py, and the whole pipeline (planes, "
    "buckets, probes, folds, tie-breaks, the -2.0 miss sentinel) "
    "value-hashes under the plane-literal oracle. Scale: one corpus "
    "map pass + one per-id aggregate; expected candidate work per row "
    "~|eval| x (1 + n_planes) / 2^n_planes vs the exact fold's "
    "|eval|; recall tunes with planes/probes without changing shape.",
)
def semantic_decontamination_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = decontam.semantic_contamination_lsh(
        emb.filter(F.col("vec_id") >= 50),
        emb.filter(F.col("vec_id") < 50),
        threshold=SEMANTIC_CONTAM_COSINE,
    )
    return (
        scored.orderBy(F.desc("__cos"), "nid")
        .limit(200)
        .select(
            "nid",
            "best_eval_id",
            F.round("__cos", 4).alias("best_cosine"),
            "contaminated",
        )
    )


@register(
    "decontamination_report",
    tier=1,  # r10 rotation OUT for typo_edit_pairs: the word-8-gram
    # decontam machinery stays driver-judged via span_excision_audit
    # (same gram probe + excision) and semantic_decontamination_lsh
    # (both tier 0); full local oracle retained
    oracle=_decontam_oracle(),
    doc="Benchmark decontamination (GPT-3 appendix-C idiom): flag training "
    "docs whose word-8-gram overlap with the held-out eval split exceeds "
    "a threshold (operators/decontam.py:contamination). The eval side "
    "reduces to a distinct md5-digest set that is explicitly broadcast — "
    "eval suites are MB-scale against a 100 TB corpus, so the probe is a "
    "map-side broadcast semi-join with zero corpus shuffle; per-doc "
    "re-aggregation combines partially map-side. Rollup keeps exact "
    "BIGINT gram/hit counts so the cross-engine hash stays stable.",
)
def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling.hash_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, seed="split-v1"
    )
    train = assigned.filter(F.col("split") == "train")
    bench = assigned.filter(F.col("split") == "test")
    report = decontam.contamination(
        train, bench, "doc_id", "text", n=8, flag_threshold=0.2
    )
    return (
        train.select("doc_id", "source")
        .join(report, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("contaminated").cast("int"))
            .cast("bigint")
            .alias("n_contaminated"),
            F.sum("n_grams").cast("bigint").alias("total_grams"),
            F.sum("n_hit").cast("bigint").alias("total_hits"),
        )
        .orderBy("source")
    )


def _repetition_oracle(
    top_bi: float = 0.18, dup_five: float = 0.15
) -> str:
    """Both per-doc n-gram profiles, the zero-fill for short docs, and the
    threshold flags replayed in DuckDB. The rollup keeps exact BIGINT
    sums (no AVG of doubles) so the value hash is order-independent."""

    def profile(n: int, alias: str) -> str:
        gram = f"array_to_string(w[i:i+{n - 1}], ' ')"
        return f"""
    {alias} AS (
      SELECT doc_id, SUM(cnt) AS {alias}_total,
             COUNT(*) AS {alias}_distinct, MAX(cnt) AS {alias}_top
      FROM (
        SELECT doc_id, g, COUNT(*) AS cnt FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w) - {n} + 2), i -> {gram})) AS g
          FROM words WHERE len(w) >= {n}
        ) GROUP BY doc_id, g
      ) GROUP BY doc_id
    )"""

    return f"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),{profile(2, "bi")},{profile(5, "five")},
    per_doc AS (
      SELECT d.doc_id, d.source, len(d.w) AS n_tokens,
             COALESCE(bi.bi_total, 0) AS bi_total,
             COALESCE(bi.bi_distinct, 0) AS bi_distinct,
             COALESCE(bi.bi_top, 0) AS bi_top,
             COALESCE(five.five_total, 0) AS five_total,
             COALESCE(five.five_distinct, 0) AS five_distinct
      FROM words d
      LEFT JOIN bi ON d.doc_id = bi.doc_id
      LEFT JOIN five ON d.doc_id = five.doc_id
    ),
    flagged AS (
      SELECT *,
             CASE WHEN (n_tokens > 0
                        AND bi_top * 2 / CAST(n_tokens AS DOUBLE) > {top_bi})
                    OR (five_total > 0
                        AND (five_total - five_distinct)
                            / CAST(five_total AS DOUBLE) > {dup_five})
                  THEN 1 ELSE 0 END AS repetitive
      FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(repetitive) AS BIGINT) AS n_repetitive,
           CAST(SUM(bi_total) AS BIGINT) AS total_bigrams,
           CAST(SUM(bi_top) AS BIGINT) AS top_bigram_hits,
           CAST(SUM(five_total) AS BIGINT) AS total_fivegrams,
           CAST(SUM(five_total - five_distinct) AS BIGINT) AS dup_fivegram_instances
    FROM flagged
    GROUP BY source
    ORDER BY source
    """


@register(
    "repetition_filter_stats",
    tier=1,  # extended training-data surface
    oracle=_repetition_oracle(),
    doc="Gopher-style repetition quality filters (Rae et al. 2021 A1.1): "
    "top-bigram coverage and duplicate-5-gram fraction per document, "
    "rolled up per source (operators/quality.py:repetition_stats). "
    "Scale: explode → (doc, gram) partial-agg → per-doc agg; only "
    "(id, count) rows shuffle, never text, and the per-doc-distributed "
    "shape avoids the O(len^2) in-row HOF trap on MB-scale outlier "
    "docs. Rollup is exact BIGINT sums for cross-engine hash stability.",
)
def repetition_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rep = quality.repetition_stats(docs, "doc_id", "text")
    return (
        docs.select("doc_id", "source")
        .join(rep, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("repetitive").cast("int")).cast("bigint").alias("n_repetitive"),
            F.sum("bi_total").cast("bigint").alias("total_bigrams"),
            F.sum("bi_top").cast("bigint").alias("top_bigram_hits"),
            F.sum("five_total").cast("bigint").alias("total_fivegrams"),
            F.sum(F.col("five_total") - F.col("five_distinct"))
            .cast("bigint")
            .alias("dup_fivegram_instances"),
        )
        .orderBy("source")
    )


def _semantic_dedup_oracle(
    threshold: float = 0.3, n_planes: int = 6, dim: int = 64, seed: int = 7
) -> str:
    """Near-dup pair CTE (same plane-literal construction as
    _cosine_neardup_oracle) + the greedy drop-higher-id rule + per-label
    rollup."""
    planes = similarity.hyperplane_planes(dim, n_planes, seed)

    def dot(vec: str, lits: list[float]) -> str:
        return _sql_dot(vec, lits, dim)

    bucket = " + ".join(
        f"(CASE WHEN {dot('embedding', p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    vnorm = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        "j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))), "
        "(a, b) -> a + b))"
    )
    pair_dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))), "
        f"(a, b) -> a + b)"
    )
    return f"""
    WITH bkt AS (
      SELECT vec_id, label, embedding,
             CAST({bucket} AS BIGINT) AS bucket,
             {vnorm} AS nrm
      FROM embeddings
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {pair_dot} / (a.nrm * b.nrm) >= {threshold}
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    GROUP BY e.label
    ORDER BY e.label
    """


@register(
    "semantic_dedup_stats",
    tier=1,  # r7 demotion: dedup family co-judged by dedup_clusters +
    # minhash_lsh_pairs (tier 0); full oracle stays in the local gate
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): drop the "
    "higher id of every LSH-bucketed cosine near-dup pair, keep per-label "
    "survival counts (operators/similarity.py:semantic_dedup). The sixth "
    "dedup family — dedup on meaning, not text; catches paraphrases that "
    "every n-gram/minhash family misses. Scale: pairs are LSH-bucketed "
    "(never all-pairs), the drop set is O(dropped) distinct ids, and the "
    "flag joins back as an id-keyed semi-join.",
)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flags = similarity.semantic_dedup(emb, "vec_id", "embedding", threshold=0.3)
    return (
        emb.select("vec_id", "label")
        .join(flags, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.col("sem_dropped").cast("int")).cast("bigint").alias("n_dropped"),
            F.sum((~F.col("sem_dropped")).cast("int")).cast("bigint").alias("n_kept"),
        )
        .orderBy("label")
    )


_MIXTURE_BUDGET = 100_000

@register(
    "mixture_plan",
    tier=1,  # extended training-data surface
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    denom AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(sqrt(CAST(tokens AS DOUBLE)) ORDER BY source)),
             (a, b) -> a + b) AS d
      FROM per_src
    )
    SELECT source, tokens,
           ROUND(sqrt(CAST(tokens AS DOUBLE)) / d, 6) AS mix_share,
           CAST(ROUND(sqrt(CAST(tokens AS DOUBLE)) / d * {float(_MIXTURE_BUDGET)}, 0)
                AS BIGINT) AS planned_tokens,
           ROUND(CAST(ROUND(sqrt(CAST(tokens AS DOUBLE)) / d * {float(_MIXTURE_BUDGET)}, 0)
                      AS BIGINT) / CAST(tokens AS DOUBLE), 4) AS epochs
    FROM per_src, denom
    ORDER BY source
    """,
    doc="Temperature-scaled data-mixture plan (mBERT/XLM-R exponential "
    "smoothing, p_g ∝ tokens^α, α=0.5): per-source token budgets and "
    "repeat factors for a fixed training budget "
    "(operators/sampling.py:temperature_mixture). The denominator is a "
    "sequential ordered double fold (bit-exact cross-engine; α=0.5 rides "
    "on IEEE-correctly-rounded sqrt). Scale: the fold input is one row "
    "per source — the plan is O(|sources|) and broadcasts back onto the "
    "corpus for the resampling pass.",
)
def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(text_ops.token_count("text")).cast("bigint").alias("tokens")
    )
    return sampling.temperature_mixture(
        per_src, "source", "tokens", budget=_MIXTURE_BUDGET
    ).orderBy("source")


def _model_filter_oracle(n_buckets: int = 64) -> str:
    """The hashed-bag-of-words fold replayed in DuckDB: per-token md5 →
    32-bit integer parse → bucket → literal-weight lookup, summed as the
    same sequential fold, thresholded at z > 0 (no transcendentals in
    the contract)."""
    w = text_ops.classifier_weights(n_buckets)
    wlit = "[" + ", ".join(repr(float(x)) for x in w) + "]"
    bucket = (
        "list_reduce(list_transform(generate_series(1, 8), "
        "j -> CAST(instr('0123456789abcdef', substr(md5(t), j, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )
    fold = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(string_split(text, ' '), "
        f"t -> ({wlit})[CAST(({bucket} % {n_buckets}) + 1 AS INT)])), "
        f"(a, b) -> a + b)"
    )
    return f"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN len(string_split(text, ' ')) > 0
                  THEN {fold} / CAST(len(string_split(text, ' ')) AS DOUBLE)
                  ELSE 0.0 END AS z
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(MIN(z), 6) AS min_score,
           ROUND(MAX(z), 6) AS max_score
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """


@register(
    "model_filter_stats",
    tier=1,  # extended training-data surface
    oracle=_model_filter_oracle(),
    doc="Model-based quality filtering (DCLM / FineWeb-Edu idiom): score "
    "every document with a hashed-bag-of-words linear classifier and "
    "keep score > 0 (operators/text.py:hashed_linear_score). The weight "
    "vector is a literal broadcast into the plan (trained offline in a "
    "real pipeline); the score is a sequential in-doc fold, bit-exact "
    "cross-engine, and the keep decision thresholds the raw linear "
    "score so no transcendental enters the contract. Scale: pure "
    "codegen HOF over the token array — no shuffle, no UDF, no join.",
)
def model_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    z = text_ops.hashed_linear_score("text", text_ops.classifier_weights())
    return (
        docs.select("lang", z.alias("z"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("z") > 0).cast("int")).cast("bigint").alias("n_kept"),
            F.round(F.min("z"), 6).alias("min_score"),
            F.round(F.max("z"), 6).alias("max_score"),
        )
        .orderBy("lang")
    )


#: DSIR selection threshold in centibits per token: a document is
#: selected when its mean per-token importance rate beats this. Like
#: the surprisal filter's cut, calibrated to the corpus score
#: distribution (the observed median rate, stable at every driver SF);
#: the comparison is cross-multiplied (score*100 > thresh*n_tokens) so
#: no negative integer division enters the cross-engine contract.
DSIR_SELECT_CENTIBITS = -178


def _dsir_oracle(n_buckets: int = 64, limit: int = 200) -> str:
    """The DSIR bit-surprisal importance weights replayed in DuckDB:
    the same md5 token bucket as the model-filter oracle, the raw
    model's add-one-smoothed integer bit costs (length(bin(total //
    cnt)) — the unigram-tokenizer idiom), the SHIPPED target model as
    a literal cost array, and the per-doc (raw - target) bit delta."""
    tgt = dsir.target_cost_model(n_buckets)
    tlit = "[" + ", ".join(str(int(c)) for c in tgt) + "]"
    bucket = (
        "list_reduce(list_transform(generate_series(1, 8), "
        "j -> CAST(instr('0123456789abcdef', substr(md5(t), j, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, ({bucket} % {n_buckets}) AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
            FROM documents)
    ),
    dom AS (SELECT unnest(generate_series(0, {n_buckets - 1})) AS bucket),
    rawc AS (
      SELECT d.bucket, CAST(COUNT(t.bucket) + 1 AS BIGINT) AS s
      FROM dom d LEFT JOIN toks t ON d.bucket = t.bucket
      GROUP BY d.bucket
    ),
    rt AS (SELECT SUM(s) AS t FROM rawc),
    costs AS (
      SELECT r.bucket,
             CAST(length(bin(rt.t // r.s)) AS BIGINT) AS raw_cost,
             CAST(({tlit})[CAST(r.bucket + 1 AS INT)] AS BIGINT) AS tgt_cost
      FROM rawc r, rt
    )
    SELECT t.doc_id, t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c.raw_cost - c.tgt_cost) AS BIGINT) AS score_bits,
           (SUM(c.raw_cost - c.tgt_cost) * 100 >
            {DSIR_SELECT_CENTIBITS} * COUNT(*)) AS selected
    FROM toks t JOIN costs c USING (bucket)
    GROUP BY t.doc_id, t.lang
    ORDER BY score_bits DESC, t.doc_id
    LIMIT {limit}
    """


@register(
    "dsir_importance_weights",
    tier=0,  # r7 flagship: a NEW selection algorithm (importance
    # resampling) under full value-hash — rotated into the judged window
    # in place of sql_pricing_summary (operator-redundant SQL-text twin)
    oracle=_dsir_oracle(),
    doc="DSIR data selection via importance resampling (public "
    "methodology: Xie et al. 2023): score every raw document by how "
    "much more likely its hashed bag-of-words is under the TARGET "
    "distribution than under the raw-corpus distribution, and keep the "
    "top slice (operators/dsir.py:importance_scores_vs_model). The raw "
    "model is learned in-job (one 64-bucket aggregate over the corpus); "
    "the target model is a SHIPPED literal cost table — the production "
    "shape, where the target corpus (e.g. Wikipedia) is fit once "
    "offline and distributed as an artifact, the same precedent as the "
    "model_filter classifier weights. Scored in INTEGER bit-surprisals "
    "(cost = length(bin(total DIV cnt)), add-one smoothing over the "
    "fixed bucket domain) — the unigram-tokenizer integer-log trick — "
    "so unlike a float-log DSIR this one carries a FULL value-hash "
    "oracle; the bit-quantized score preserves the float selection "
    "order up to 1-bit ties. The paper-faithful two-learned-models "
    "form (importance_scores, target = a corpus predicate) is pinned "
    "by a planted-distribution-shift unit test — on THIS synthetic "
    "corpus every language slice is lexically identical to the raw "
    "mix, which whole-bit quantization honestly reports as score 0. "
    "Scale: both model tables are n_buckets rows broadcast into ONE "
    "pass over the exploded token stream; only (doc_id, long) pairs "
    "shuffle. At 100 TB the model tables are still 64 rows.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        dsir.importance_scores_vs_model(
            docs,
            dsir.target_cost_model(64),
            select_centibits_per_token=DSIR_SELECT_CENTIBITS,
        )
        .orderBy(F.desc("score_bits"), "doc_id")
        .limit(200)
    )


