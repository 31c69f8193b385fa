"""Curation family: LM quality scores, splits, stratified/weighted sampling, shard manifests, context packing, centroids, epoch shuffling.

Segment of the LLM-pipeline catalog; ``plans/__init__.py`` imports every
segment in registration order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    sampling,
    similarity,
    text as text_ops,
)
from ..sources.tables import load_table
from .registry import register

@register(
    "lm_quality_scores",
    tier=1,  # extended text-analysis surface; token machinery judged via token_accounting
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT doc_id, lang, bg, string_split(bg, ' ')[1] AS w1 FROM (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM toks
      )
    ),
    c2 AS (SELECT bg, COUNT(*) AS c12 FROM pairs GROUP BY bg),
    c1 AS (
      SELECT w1, COUNT(*) AS c1 FROM (
        SELECT unnest(t) AS w1 FROM toks
      ) GROUP BY w1
    ),
    v AS (SELECT COUNT(*) AS vocab FROM c1),
    scored AS (
      SELECT p.doc_id, p.lang,
             ln(CAST(c2.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.vocab AS DOUBLE)) AS logp
      FROM pairs p JOIN c2 USING (bg) JOIN c1 USING (w1), v
    ),
    per_doc AS (
      SELECT doc_id, lang, COUNT(*) AS n_bigrams,
             ROUND(AVG(logp), 4) AS lm_score
      FROM scored GROUP BY doc_id, lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(lm_score), 4) AS mean_lm_score,
           ROUND(MIN(lm_score), 4) AS worst_lm_score,
           ROUND(MAX(lm_score), 4) AS best_lm_score
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Bigram language-model quality scoring (operators/text.py:"
    "bigram_lm_scores): every document scored by the mean log-probability "
    "of its bigrams under an add-one-smoothed model trained on the corpus "
    "itself — the CCNet-style LM filter that puts gibberish and "
    "boilerplate in the tails; rolled up per language. Oracle replays "
    "the identical counts, smoothing, and ln in SQL (scores rounded to "
    "4 — float-sum order is the only engine difference). Scale: count "
    "relations are vocabulary-sized hash aggregates; the scoring join "
    "shuffles tokens and counts, never documents; V is one scalar.",
)
def lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = text_ops.bigram_lm_scores(docs, "doc_id", "text")
    with_lang = scores.join(
        F.broadcast(docs.select("doc_id", "lang")), "doc_id"
    )
    return (
        with_lang.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("lm_score"), 4).alias("mean_lm_score"),
            F.round(F.min("lm_score"), 4).alias("worst_lm_score"),
            F.round(F.max("lm_score"), 4).alias("best_lm_score"),
        )
        .orderBy("lang")
    )


def _split_oracle() -> str:
    bounds = sampling.split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    (t_name, t1), (v_name, t2), (rest_name, _) = bounds
    key = "md5('split-v1|' || CAST(doc_id AS VARCHAR))"
    return f"""
    WITH assigned AS (
      SELECT lang, text,
             CASE WHEN {key} < '{t1}' THEN '{t_name}'
                  WHEN {key} < '{t2}' THEN '{v_name}'
                  ELSE '{rest_name}' END AS split
      FROM documents
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT lang) AS n_langs
    FROM assigned
    GROUP BY split
    ORDER BY split
    """


@register(
    "dataset_split_stats",
    tier=1,  # extended training-data surface; split hashing shares the judged md5 machinery
    oracle=_split_oracle(),
    doc="Deterministic train/val/test split (90/5/5) by md5(seed|doc_id) "
    "against precomputed 2^128-scaled hex boundaries "
    "(operators/sampling.py:hash_split) — reproducible across engines "
    "and dataset versions, unlike randomSplit; membership never changes "
    "as the corpus grows (the contamination guard). Scale: pure map-side "
    "CASE, no shuffle; the rollup is |splits| groups.",
)
def dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling.hash_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, seed="split-v1"
    )
    toks = text_ops.token_count("text")
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).cast("bigint").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


@register(
    "stratified_sample",
    tier=1,  # extended training-data surface; window top-k judged via group_percentiles/star_dim_date windows
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('sample-v1|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, source FROM ranked WHERE rk <= 10
    ORDER BY lang, doc_id
    """,
    doc="Exact stratified sampling: 10 docs per language, chosen by "
    "deterministic md5 order (operators/sampling.py:stratified_sample) — "
    "exact per-stratum budgets that sampleBy's binomial draw can't "
    "guarantee, reproducible run-to-run. Scale: one shuffle on the "
    "stratum key; external sort per stratum; two-phase per-partition "
    "top-k is the documented upgrade for billion-row strata.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    samp = sampling.stratified_sample(docs, "lang", 10, "doc_id", seed="sample-v1")
    return samp.select("doc_id", "lang", "source").orderBy("lang", "doc_id")


@register(
    "weighted_sample_topn",
    tier=1,  # extended training-data surface; md5-uniform machinery judged via dataset_split/stratified twins
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
             ln(CAST(list_reduce(
                  list_transform(generate_series(1, 13),
                    j -> CAST(instr('0123456789abcdef',
                           substr(md5('wsample-v1|' || CAST(doc_id AS VARCHAR)), j, 1)
                         ) - 1 AS BIGINT)),
                  (a, b) -> a * 16 + b) AS DOUBLE) / 4503599627370496.0)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS wkey
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    )
    SELECT doc_id, lang, weight
    FROM keyed
    ORDER BY wkey DESC, doc_id
    LIMIT 100
    """,
    doc="Weight-proportional sampling without replacement (operators/"
    "sampling.py:weighted_sample, the Efraimidis-Spirakis A-ES scheme): "
    "100 documents drawn with inclusion probability proportional to "
    "token count, via key ln(u)/w with a DETERMINISTIC uniform — the "
    "first 52 bits of md5(seed|id) scaled by 2^-52, exact in any engine "
    "(integer parse + power-of-two scale), so the sample is reproducible "
    "across runs, partitionings, and engines; ln is the only float op "
    "in the key. The oracle replays the identical key. Scale: key is a "
    "pure map; top-k is per-partition TakeOrdered, no global sort.",
)
def weighted_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weight = F.size(F.split(F.col("text"), " ")).cast("bigint")
    samp = sampling.weighted_sample(
        docs.withColumn("weight", weight), 100, "doc_id", "weight", seed="wsample-v1"
    )
    return samp.select("doc_id", "lang", "weight")


@register(
    "token_shard_manifest",
    tier=1,  # extended training-data surface; window-cumsum machinery judged via star_dim_date/group_percentiles
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    sharded AS (
      SELECT lang, doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
               AS shard_id
      FROM toks
    )
    SELECT lang, shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM sharded
    GROUP BY lang, shard_id
    ORDER BY lang, shard_id
    """,
    doc="Token-budget shard manifest: docs packed into ~512-token shards "
    "per language by cumulative-sum chunking "
    "(operators/sampling.py:token_shards) — the manifest that turns a "
    "curated corpus into bounded loader work units. Scale: the window "
    "partitions by language (per-partition external sort, no global "
    "total order); two-phase cumsum is the documented upgrade for one "
    "giant stream.",
)
def token_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", text_ops.token_count("text").alias("n_tokens")
    )
    sharded = sampling.token_shards(
        toks, "doc_id", "n_tokens", budget=512, partition_col="lang"
    )
    return (
        sharded.groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "shard_id")
    )


@register(
    "context_packing_blocks",
    tier=1,  # extended training-data surface; token_shards' block-granular twin
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{text_ops.BPE_ISH_PATTERN}', 0))
               + 1 AS tlen
      FROM documents
    ),
    pos AS (
      SELECT doc_id, tlen,
             CAST(COALESCE(SUM(tlen) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s0
      FROM toks
    ),
    spans AS (
      SELECT doc_id, tlen, s0,
             UNNEST(generate_series(s0 // 2048, (s0 + tlen - 1) // 2048))
               AS block_idx
      FROM pos
    ),
    cells AS (
      SELECT block_idx, doc_id,
             GREATEST(s0, block_idx * 2048) AS s,
             LEAST(s0 + tlen, (block_idx + 1) * 2048) AS e,
             s0 // 2048 = (s0 + tlen - 1) // 2048 AS whole
      FROM spans
    )
    SELECT CAST(block_idx AS BIGINT) AS block_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN whole THEN 1 ELSE 0 END) AS BIGINT)
             AS n_whole_docs,
           CAST(SUM(e - s) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc_id
    FROM cells GROUP BY 1 ORDER BY 1
    """,
    doc="GPT-style context-window packing (operators/sampling.py:"
    "pack_context_blocks) — the block-granular twin of token_shards: "
    "docs concatenate in doc_id order (BPE-ish token counts + 1 EOD "
    "marker each) into one stream cut into 2048-token training windows; "
    "boundary-crossing docs SPLIT rather than pad, so every block but "
    "the last reads n_tokens = 2048 IN THE OUTPUT — the packing "
    "efficiency invariant is value-hash-checked, not just asserted. "
    "Per-block rollup: docs touching, whole docs, token fill, doc-id "
    "range. Offsets are div integer arithmetic end to end (exact past "
    "2^53 tokens); the doc stream position comes from global_cumsum's "
    "range-partitioned scan — no single-task global window; the block "
    "expansion is map-side sequence/explode.",
)
def context_packing_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text_ops.bpe_ish_token_count("text").cast("long").alias("n_tok")
    )
    cells = sampling.pack_context_blocks(
        docs, "doc_id", "n_tok", block_tokens=2048, sep_tokens=1
    )
    return (
        cells.groupBy("block_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("is_whole").cast("int")).cast("bigint").alias("n_whole_docs"),
            F.sum(F.col("end_in_block") - F.col("start_in_block"))
            .cast("bigint")
            .alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("block_idx")
    )


@register(
    "embedding_centroids",
    tier=1,  # extended surface; vector-agg shape shares the judged hash-agg machinery
    oracle="""
    WITH exploded AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    )
    SELECT label, pos, ROUND(AVG(CAST(v AS DOUBLE)), 4) AS centroid
    FROM exploded
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    doc="Per-label embedding centroids (class prototypes) in long form: "
    "posexplode -> two-phase hash aggregate over |labels| x dim cells "
    "(operators/similarity.py:group_centroids) — no group ever "
    "materializes its vectors together, so a billion-row label is fine. "
    "Inherently-float mean, so ROUND(4) on both sides per the registry "
    "parity rules. Scale: the shuffle carries (label, pos, partial "
    "sum/count) — fixed cardinality regardless of corpus size.",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.group_centroids(emb, "label", "embedding")
    return cents.select(
        "label", "pos", F.round("centroid", 4).alias("centroid")
    ).orderBy("label", "pos")


@register(
    "token_shards_global",
    tier=1,  # extended surface; the per-stratum variant is the broader-judged twin
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (
                 ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
                 / 2048.0) AS BIGINT) AS shard_id
      FROM toks
    )
    SELECT shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM sharded
    GROUP BY shard_id
    ORDER BY shard_id
    """,
    doc="Whole-corpus shard manifest over ONE total order (no stratum "
    "key): exercises the two-phase parallel prefix sum "
    "(operators/sampling.py:global_cumsum — arithmetic key buckets, "
    "per-partition scan, broadcast offsets; Blelloch scan in DataFrame "
    "form). The oracle is the naive global-window cumsum, which the "
    "two-phase plan must equal exactly. Scale: the naive window is a "
    "single-task sort at 100 TB; this plan's only single-task step is "
    "the |partitions|-row offset window.",
)
def token_shards_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", text_ops.token_count("text").alias("n_tokens"))
    sharded = sampling.token_shards(toks, "doc_id", "n_tokens", budget=2048)
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


@register(
    "epoch_shuffle_shards",
    tier=0,  # r6 self-rotation INTO the judged window: deterministic
    # per-epoch reshuffle manifests (training-loader surface)
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    keyed AS (
      SELECT t.doc_id, t.n_tokens, r.e AS epoch,
             md5('epoch-' || CAST(r.e AS VARCHAR) || '|'
                 || CAST(t.doc_id AS VARCHAR)) AS k
      FROM toks t, UNNEST(generate_series(0, 1)) AS r(e)
    ),
    sharded AS (
      SELECT epoch, doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY epoch ORDER BY k
                     ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048
                  AS BIGINT) AS shard_id
      FROM keyed
    )
    SELECT CAST(epoch AS INT) AS epoch, shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM sharded
    GROUP BY epoch, shard_id
    ORDER BY epoch, shard_id
    """,
    doc="Per-epoch deterministic corpus reshuffle — the data-loader step "
    "every multi-epoch training run needs: epoch e permutes documents "
    "by md5('epoch-e|' || doc_id) (a different, reproducible total "
    "order per epoch; membership never depends on partitioning or "
    "engine) and packs the permuted stream into ~2048-token shards via "
    "the parallel prefix sum (operators/sampling.py:token_shards over "
    "the md5 key — the range-partition bucketing path, since hex keys "
    "are strings; md5 uniformity makes the range exchange naturally "
    "balanced). Two epochs are manifested side by side, so the "
    "value-hash pins that the SAME corpus reshards differently per "
    "epoch while per-epoch token accounting stays exact. Scale: one "
    "narrow (id, key, count) relation per epoch shuffles — never text; "
    "epochs are independent jobs in a real loader, unioned here only "
    "to put both under one oracle.",
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_ops.token_count("text").alias("n_tokens")
    )
    per_epoch = []
    for e in (0, 1):
        keyed = toks.withColumn(
            "__k", sampling.split_key("doc_id", f"epoch-{e}")
        )
        sharded = sampling.token_shards(keyed, "__k", "n_tokens", budget=2048)
        per_epoch.append(
            sharded.withColumn("epoch", F.lit(e).cast("int"))
            .groupBy("epoch", "shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
        )
    return (
        per_epoch[0]
        .unionByName(per_epoch[1])
        .select(
            "epoch", "shard_id", "n_docs", "shard_tokens", "min_doc", "max_doc"
        )
        .orderBy("epoch", "shard_id")
    )


def _decontam_oracle(n: int = 8, flag_threshold: float = 0.2) -> str:
    """Split assignment, n-gram generation, digest join, and the
    hit-fraction flag all replayed in DuckDB. Per-doc gram counts come
    back to the doc list via LEFT JOIN + COALESCE so sub-n-word docs
    keep n_grams = 0, matching Spark's explode_outer."""
    bounds = sampling.split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    (t_name, t1), (v_name, t2), _ = bounds
    key = "md5('split-v1|' || CAST(doc_id AS VARCHAR))"
    grams = (
        f"list_transform(range(1, len(w) - {n} + 2), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' '))"
    )
    return f"""
    WITH assigned AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             CASE WHEN {key} < '{t1}' THEN '{t_name}'
                  WHEN {key} < '{t2}' THEN '{v_name}'
                  ELSE 'test' END AS split
      FROM documents
    ),
    bench_grams AS (
      SELECT DISTINCT md5(g) AS bench_h FROM (
        SELECT unnest({grams}) AS g FROM assigned WHERE split = 'test'
      )
    ),
    train_grams AS (
      SELECT doc_id, unnest({grams}) AS g
      FROM assigned WHERE split = '{t_name}'
    ),
    per_doc AS (
      SELECT tg.doc_id,
             COUNT(g) AS n_grams,
             COUNT(bench_h) AS n_hit
      FROM train_grams tg
      LEFT JOIN bench_grams b ON md5(tg.g) = b.bench_h
      GROUP BY tg.doc_id
    ),
    docs AS (
      SELECT a.doc_id, a.source,
             COALESCE(p.n_grams, 0) AS n_grams,
             COALESCE(p.n_hit, 0) AS n_hit
      FROM assigned a LEFT JOIN per_doc p ON a.doc_id = p.doc_id
      WHERE a.split = '{t_name}'
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_grams > 0
                          AND n_hit / CAST(n_grams AS DOUBLE) >= {flag_threshold}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_hit) AS BIGINT) AS total_hits
    FROM docs
    GROUP BY source
    ORDER BY source
    """


#: Semantic-contamination flag threshold (max cosine to any eval item).
#: On this synthetic corpus no planted eval-train near-copies exist
#: (max observed ~0.49), so like the surprisal/DSIR cuts the value is
#: calibrated to the score distribution — ~top decile at the judging
#: SF; a production run against a real benchmark sets this near 0.9+.
SEMANTIC_CONTAM_COSINE = 0.35


def _semantic_decontam_oracle(threshold: float, limit: int = 200) -> str:
    gs = "generate_series(1, len(c.nvec))"
    dot = (
        f"list_sum(list_transform({gs}, i -> "
        "CAST(c.nvec[i] AS DOUBLE) * CAST(e.qvec[i] AS DOUBLE)))"
    )
    nn = (
        f"sqrt(list_sum(list_transform({gs}, i -> "
        "CAST(c.nvec[i] AS DOUBLE) * CAST(c.nvec[i] AS DOUBLE))))"
    )
    qn = (
        "sqrt(list_sum(list_transform(generate_series(1, len(e.qvec)), i -> "
        "CAST(e.qvec[i] AS DOUBLE) * CAST(e.qvec[i] AS DOUBLE))))"
    )
    return f"""
    WITH e AS (SELECT vec_id AS qid, embedding AS qvec
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id AS nid, embedding AS nvec
          FROM embeddings WHERE vec_id >= 50),
    sims AS (
      SELECT c.nid, e.qid, {dot} / ({nn} * {qn}) AS cos
      FROM c, e
    ),
    best AS (
      SELECT nid, qid, cos FROM (
        SELECT nid, qid, cos,
               ROW_NUMBER() OVER (PARTITION BY nid
                                  ORDER BY cos DESC, qid) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    top AS (
      SELECT nid, qid, cos FROM best
      ORDER BY cos DESC, nid LIMIT {limit}
    )
    SELECT nid, CAST(qid AS BIGINT) AS best_eval_id,
           ROUND(cos, 4) AS best_cosine,
           (cos >= {threshold}) AS contaminated
    FROM top
    ORDER BY cos DESC, nid
    """


