"""Corpus analysis family: PQ rerank, span excision, chunk inventory, TF-IDF, vocabulary coverage, PMI, length histograms, leak-free splits, embedding drift.

Segment of the LLM-pipeline catalog; ``plans/__init__.py`` imports every
segment in registration order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    decontam,
    dedup,
    sampling,
    similarity,
    text as text_ops,
)
from ..sources.tables import load_table
from .registry import register
from .llm_ann import _lattice_pq_recon, _pq_rerank_exact_oracle
from .llm_pipeline import _span_worklist
from .llm_shared import _SHINGLE_CTE, _neardup_pairs

@register(
    "embedding_pq_rerank",
    tier=1,  # extended ANN surface; full oracle since r8 (was rows-only)
    oracle=_pq_rerank_exact_oracle(),
    doc="Two-stage retrieval: PQ ADC shortlist -> exact cosine re-rank "
    "(operators/similarity.py:pq_rerank_topk; the FAISS refine / ScaNN "
    "reordering pattern). Recovers most of PQ's recall loss while "
    "touching only candidates x queries full vectors — the corpus "
    "stays compressed at rest and the shortlist fetch is an id-keyed "
    "join. FULL value-hash oracle since r8: the shortlist comes from "
    "the deterministic lattice-PQ ADC pass (the shared build-once "
    "recon index embedding_pq_ann searches — ONE index, two serving "
    "shapes), and both the quantized pass and the exact re-rank are "
    "sequential-fold replays in SQL. Scale: the re-rank touches "
    "candidates x queries vectors via id-keyed joins; the corpus "
    "full-precision rows stay at rest.",
)
def embedding_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 100)
    shortlist = similarity.pq_ann_topk_exact(
        emb, qids, m=32, n_codes=64, k=50,
        recon=_lattice_pq_recon(spark, sf_dir),
    )
    return similarity.pq_rerank_topk(
        emb, qids, k=3, shortlist=shortlist
    ).orderBy("qid", "rank")


@register(
    "span_excision_stats",
    tier=1,  # extended training-data surface; FULL oracle since r8
    # (was rows-only: "greedy excision has no tractable SQL replay" —
    # it does: the scan is a sequential integer fold, see below)
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 5),
               i -> array_to_string(string_split(text, ' ')[i:i+6], ' ')
             ))) AS span
      FROM documents WHERE len(string_split(text, ' ')) >= 7
    ),
    flagged AS (
      SELECT span FROM (
        SELECT span, COUNT(*) AS n_docs
        FROM grams GROUP BY span HAVING COUNT(*) >= 2
      ) ORDER BY n_docs DESC, span LIMIT 20
    ),
    fl AS (SELECT list(span) AS spans FROM flagged),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    -- Flagged window-start positions per doc, ascending. Computed as a
    -- SEPARATE materialized relation: feeding the raw 0-marked
    -- position list straight into list_reduce trips a DuckDB v1.0
    -- vectorization bug (the fold returns nonzero counts for rows
    -- whose list is all zeros when the transform+filter+reduce fuse in
    -- one projection); folding the pre-filtered position list is both
    -- correct and immune.
    marks AS MATERIALIZED (
      SELECT t.doc_id, len(t.w) AS nb,
             list_sort(list_filter(
               list_transform(
                 range(1, len(t.w) + 1),
                 i -> CAST(CASE WHEN i + 6 <= len(t.w)
                       AND list_contains(
                             fl.spans,
                             array_to_string(t.w[i:i+6], ' '))
                      THEN i ELSE 0 END AS BIGINT)
               ),
               x -> x > 0)) AS fp
      FROM toks t CROSS JOIN fl
    ),
    -- The greedy left-to-right scan as a sequential integer fold
    -- (excise_spans' while-loop verbatim): a flagged position x starts
    -- a window iff it has not been consumed by an earlier window
    -- (x >= next_free); a start advances next_free to x + 7. State
    -- packs as one BIGINT next_free * 2^20 + count (the
    -- lattice/combined-objective idiom).
    greedy AS (
      SELECT doc_id, nb,
             list_reduce(
               list_prepend(CAST(1048576 AS BIGINT), fp),
               (acc, x) -> CASE
                 WHEN x >= acc // 1048576
                 THEN (x + 7) * 1048576 + acc % 1048576 + 1
                 ELSE acc END
             ) % 1048576 AS n_excised
      FROM marks
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_excised > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_touched,
           CAST(SUM(n_excised) AS BIGINT) AS spans_excised,
           CAST(SUM(nb) AS BIGINT) AS tokens_before,
           CAST(SUM(nb - 7 * n_excised) AS BIGINT) AS tokens_after
    FROM greedy
    """,
    doc="Span excision — the transform that CONSUMES the duplicated_spans "
    "work-list (Lee et al. 2022 exact substring dedup): every flagged "
    "cross-document 7-gram is removed greedily left-to-right; summary "
    "counts docs touched, spans excised, tokens before/after "
    "(operators/decontam.py:excise_spans). FULL value-hash oracle "
    "since r8 — the claim that greedy overlap resolution 'has no "
    "tractable SQL replay' was wrong: the scan is a SEQUENTIAL fold "
    "(position i starts a window iff flagged AND i >= next_free; a "
    "start advances next_free by 7), which list_reduce replays exactly "
    "with the state packed as one integer (next_free * 2^20 + count). "
    "span_excision_audit remains the driver-judged banded companion. "
    "Scale: the span list is a heavy-hitter report (small by "
    "construction) broadcast into one Arrow pass over the corpus — "
    "report and excision together are two corpus scans total.",
)
def span_excision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = _span_worklist(spark, sf_dir)
    excised = decontam.excise_spans(docs, spans, "doc_id", "text", n=7)
    return excised.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_excised_spans") > 0).cast("int"))
        .cast("bigint")
        .alias("docs_touched"),
        F.sum("n_excised_spans").cast("bigint").alias("spans_excised"),
        F.sum("n_tokens_before").cast("bigint").alias("tokens_before"),
        F.sum("n_tokens_after").cast("bigint").alias("tokens_after"),
    )


@register(
    "span_excision_audit",
    # tier 0 since r5 (rotated into the judged window; banded-oracle
    # companion to span_excision_stats — which is FULLY oracled since
    # r8, so this audit is now a second, independent pin)
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 5),
               i -> array_to_string(string_split(text, ' ')[i:i+6], ' ')
             ))) AS span
      FROM documents WHERE len(string_split(text, ' ')) >= 7
    ),
    flagged AS (
      SELECT span FROM (
        SELECT span, COUNT(*) AS n_docs
        FROM grams GROUP BY span HAVING COUNT(*) >= 2
      ) ORDER BY n_docs DESC, span LIMIT 20
    ),
    occ AS (
      SELECT p.doc_id
      FROM (
        SELECT doc_id,
               array_to_string(string_split(text, ' ')[t.i:t.i + 6], ' ')
                 AS span
        FROM documents,
             UNNEST(range(1, len(string_split(text, ' ')) - 5)) AS t(i)
        WHERE len(string_split(text, ' ')) >= 7
      ) p JOIN flagged f ON p.span = f.span
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS tokens_before
      FROM documents
    )
    SELECT tot.n_docs,
           (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM occ)
             AS docs_touched,
           tot.tokens_before,
           true AS tokens_conserved,
           true AS excision_bounded
    FROM tot
    """,
    doc="Banded-oracle audit for span excision — the independent "
    "companion pin for span_excision_stats (itself FULLY oracled since "
    "r8, when the greedy scan was replayed as a sequential integer fold "
    "in SQL) the same way pagerank_rank_audit pins float PageRank and "
    "the recall audits pin the quantized ANN tiers. "
    "Three columns are EXACT SQL replays: "
    "corpus size, total pre-excision tokens, and docs_touched — greedy "
    "left-to-right excision provably removes >= 1 span from every doc "
    "containing >= 1 flagged occurrence (the scan reaches the leftmost "
    "occurrence untouched: an earlier removal that jumped past it would "
    "itself be an earlier occurrence), and none from any other doc, so "
    "the excision-side count must equal the occurrence-side count the "
    "oracle computes. Two columns are guaranteed invariants pinned "
    "TRUE: token conservation (every doc's token loss == 7 x its "
    "excised-span count — each removal drops exactly one 7-token "
    "window) and excision bounds (docs_touched <= spans_excised <= "
    "total flagged occurrences). Scale: one Arrow excision pass over "
    "the corpus (broadcast span list), one positional-gram probe "
    "(broadcast 20-row join, map-side), two one-row aggregates crossed "
    "— the proof surface costs two corpus scans, nothing corpus-sized "
    "shuffles.",
)
def span_excision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The span work-list is consumed TWICE here (the excision broadcast
    # set and the occurrence probe) and again by span_excision_stats —
    # the memoized 20-row artifact (_span_worklist) means the corpus-
    # scale gram aggregate mines ONCE per session, and a lazy re-plan
    # can never re-run it. Bounded by construction (top-20 heavy-hitter
    # report); an unbounded caller is refused downstream by
    # excise_spans' max_spans guard.
    spans = _span_worklist(spark, sf_dir)
    excised = decontam.excise_spans(docs, spans, "doc_id", "text", n=7)
    exc_agg = excised.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_excised_spans") > 0).cast("int"))
        .cast("bigint")
        .alias("docs_touched"),
        F.sum("n_tokens_before").cast("bigint").alias("tokens_before"),
        F.min(
            F.col("n_tokens_before") - F.col("n_tokens_after")
            == F.col("n_excised_spans") * 7
        ).alias("tokens_conserved"),
        F.sum("n_excised_spans").cast("bigint").alias("__spans_excised"),
    )
    occ_agg = (
        docs.select(
            "doc_id",
            F.explode(decontam.word_ngrams("text", 7)).alias("span"),
        )
        .join(F.broadcast(spans), "span")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n_occ"))
    )
    return exc_agg.crossJoin(F.broadcast(occ_agg)).select(
        "n_docs",
        "docs_touched",
        "tokens_before",
        "tokens_conserved",
        (
            (F.col("docs_touched") <= F.col("__spans_excised"))
            & (F.col("__spans_excised") <= F.col("__n_occ"))
        ).alias("excision_bounded"),
    )


@register(
    "chunk_inventory",
    tier=1,  # extended training-data surface
    oracle="""
    WITH starts AS (
      SELECT doc_id,
             text,
             unnest(generate_series(1, greatest(length(text) - 32, 1), 224)) AS chunk_start
      FROM documents
      WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST((chunk_start - 1) // 224 AS INT) AS chunk_idx,
           CAST(chunk_start AS INT) AS chunk_start,
           CAST(length(substring(text, chunk_start, 256)) AS INT) AS n_chunk_chars,
           md5(substring(text, chunk_start, 256)) AS chunk_digest
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
    doc="Sliding-window document chunking (operators/text.py:"
    "chunk_documents) — the RAG/embedding-prep transform: 256-char "
    "windows with 32-char overlap, every chunk digest-identified. The "
    "value-hash covers the chunk TEXT via md5, so boundary arithmetic "
    "is pinned byte-for-byte against the oracle. Scale: pure map-side "
    "sequence+posexplode, no shuffle; output rows ~= corpus_chars / "
    "stride with bounded row width — the right input shape for the "
    "embed -> ANN stages downstream.",
)
def chunk_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chunks = text_ops.chunk_documents(docs, "doc_id", "text", chunk_chars=256, overlap=32)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.length("chunk_text").cast("int").alias("n_chunk_chars"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_digest"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "tfidf_top_terms",
    tier=1,  # extended training-data surface
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df_docs FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df_docs + 1.0)) + 1.0), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tf, df_docs, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, CAST(rnk AS INT) AS rnk, term,
           CAST(tf AS BIGINT) AS tf, CAST(df_docs AS BIGINT) AS df_docs, tfidf
    FROM ranked WHERE rnk <= 3 AND doc_id < 100
    ORDER BY doc_id, rnk
    """,
    doc="TF-IDF top-3 terms per document — the classic corpus keyword "
    "extractor (salient-term summaries, topic drift monitoring, "
    "quality triage). tfidf = tf * (ln((N+1)/(df+1)) + 1), the "
    "smoothed sklearn formulation; ROUND(4) pins the float product "
    "cross-engine, with the term string as the deterministic "
    "tie-break. Scale shape: two hash aggregates over the (doc, term) "
    "stream (tf, then document-frequency over tf's output — tokens "
    "shuffle once), the df relation joins back keyed on the term "
    "string, N rides in as a broadcast scalar, and the final top-3 is "
    "a per-doc window over ~|distinct terms per doc| rows. Documents "
    "never shuffle — only (term, count) pairs do.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar: one count action, broadcast as a literal
    tf = (
        docs.select("doc_id", F.explode(text_ops.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df_docs") + F.lit(1.0)).cast("double")) + 1.0
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        tf.join(df_rel, "term")
        # Output-doc predicate BEFORE the window: row_number partitions by
        # doc_id, so pruning docs first shrinks the window's sort input
        # without changing any surviving rank.
        .filter(F.col("doc_id") < 100)
        .withColumn("tfidf", F.round(F.col("tf") * idf, 4))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df_docs", "tfidf")
        .orderBy("doc_id", "rnk")
    )


@register(
    "vocab_coverage",
    tier=1,  # extended training-data surface
    oracle="""
    WITH cnt AS (
      SELECT term, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    ),
    total AS (SELECT SUM(c) AS t FROM cnt),
    ranked AS (
      SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk
      FROM cnt
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= 1000)
    SELECT cutoff,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(c) AS BIGINT) AS covered_tokens,
           CAST(MAX(total.t) AS BIGINT) AS total_tokens,
           ROUND(SUM(c) / CAST(MAX(total.t) AS DOUBLE), 4) AS coverage
    FROM top CROSS JOIN total
    CROSS JOIN (SELECT unnest([10, 100, 1000]) AS cutoff)
    WHERE rnk <= cutoff
    GROUP BY cutoff
    ORDER BY cutoff
    """,
    doc="Vocabulary coverage curve: what fraction of the corpus token "
    "mass the top-10/100/1000 terms cover — the Zipf chart of every "
    "corpus datasheet and the sizing input for vocabulary/tokenizer "
    "decisions. Scale shape: term counts are one hash aggregate; the "
    "top-1000 selection is orderBy+limit = TakeOrdered (per-partition "
    "heaps + driver merge, NO global sort of the vocabulary — the "
    "full-vocab window formulation degenerates to a single-task sort "
    "at web scale); ranking/cumulating then run on the 1000-row "
    "relation, and the total-token scalar is one aggregate row.",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(text_ops.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        # Feeds the scalar total AND the top-k selection — materialize the
        # |vocabulary|-row relation once instead of replaying the corpus
        # explode+aggregate per consumer.
        .localCheckpoint()
    )
    total = int(cnt.agg(F.sum("c")).first()[0])  # scalar: total token mass
    top = cnt.orderBy(F.desc("c"), "term").limit(1000)
    # 1000-row relation: the single-partition window is bounded by the
    # cutoff list, not the vocabulary.
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("c"), "term"))
    )
    # Attach the cutoff list as a map-side explode per ranked row — a
    # crossJoin against a 3-row cutoff relation would plan a
    # BroadcastNestedLoopJoin (non-equi predicate); this is pure codegen.
    return (
        ranked.select(
            "c",
            "rnk",
            F.explode(F.array(F.lit(10), F.lit(100), F.lit(1000))).alias("cutoff"),
        )
        .filter(F.col("rnk") <= F.col("cutoff"))
        .groupBy("cutoff")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("c").cast("bigint").alias("covered_tokens"),
            F.lit(total).cast("bigint").alias("total_tokens"),
            F.round(F.sum("c") / F.lit(float(total)), 4).alias("coverage"),
        )
        .orderBy("cutoff")
    )


@register(
    "pmi_collocations",
    tier=1,  # extended training-data surface
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM words WHERE len(w) >= 2
    ),
    c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
    uni AS (
      SELECT term, COUNT(*) AS c1
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    ),
    t1 AS (SELECT SUM(c1) AS t FROM uni),
    t2 AS (SELECT SUM(c12) AS t FROM c12),
    scored AS (
      SELECT c12.bigram, c12.c12,
             ROUND(ln((c12.c12 / CAST(t2.t AS DOUBLE))
                      / ((u1.c1 / CAST(t1.t AS DOUBLE))
                         * (u2.c1 / CAST(t1.t AS DOUBLE)))), 4) AS pmi
      FROM c12
      JOIN uni u1 ON u1.term = string_split(c12.bigram, ' ')[1]
      JOIN uni u2 ON u2.term = string_split(c12.bigram, ' ')[2]
      CROSS JOIN t1 CROSS JOIN t2
      WHERE c12.c12 >= 5
    )
    SELECT bigram, CAST(c12 AS BIGINT) AS c12, pmi
    FROM scored
    ORDER BY pmi DESC, bigram
    LIMIT 20
    """,
    doc="PMI collocation mining: top-20 bigrams by pointwise mutual "
    "information, pmi = ln(P(w1 w2) / (P(w1) P(w2))) with a c12 >= 5 "
    "support floor — the classic phrase/collocation extractor "
    "(word2vec-style phrase merging, boilerplate discovery). Scale "
    "shape: the bigram and unigram count relations are hash "
    "aggregates over the token stream (vocabulary-sized outputs); the "
    "two probability joins key on term strings against the "
    "(broadcastable) unigram relation; the totals are two scalar "
    "aggregates; final top-20 is TakeOrdered. ROUND(4) pins the float "
    "ln cross-engine with the bigram string as tie-break.",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens("text")
    n = F.size(toks)
    bigrams = F.transform(
        F.slice(toks, 1, n - 1),
        lambda w, i: F.concat_ws(" ", w, F.element_at(toks, i + F.lit(2))),
    )
    # Materialize the vocabulary-sized count relations ONCE: each feeds a
    # scalar total AND the scoring join — without this the corpus-wide
    # explode+aggregate replays per consumer (measured 3.9 s → 2.2 s at
    # sf0.1). At cluster scale the same reuse is a .persist() on two
    # |vocabulary|-row relations.
    c12 = (
        docs.filter(n >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    uni = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
        .localCheckpoint()
    )
    t1 = float(uni.agg(F.sum("c1")).first()[0])  # scalar: token mass
    t2 = float(c12.agg(F.sum("c12")).first()[0])  # scalar: bigram mass
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    u1 = uni.select(F.col("term").alias("__w1"), F.col("c1").alias("__c_w1"))
    u2 = uni.select(F.col("term").alias("__w2"), F.col("c1").alias("__c_w2"))
    pmi = F.round(
        F.log(
            (F.col("c12") / F.lit(t2))
            / ((F.col("__c_w1") / F.lit(t1)) * (F.col("__c_w2") / F.lit(t1)))
        ),
        4,
    )
    return (
        c12.filter(F.col("c12") >= 5)
        .join(u1, w1 == F.col("__w1"))
        .join(u2, w2 == F.col("__w2"))
        .select("bigram", F.col("c12").cast("bigint").alias("c12"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


@register(
    "doc_length_histogram",
    tier=1,  # extended training-data surface
    oracle="""
    SELECT lang,
           CAST(len(string_split(text, ' ')) // 16 * 16 AS BIGINT) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS bucket_tokens
    FROM documents
    GROUP BY lang, bucket_lo
    ORDER BY lang, bucket_lo
    """,
    doc="Token-length histogram per language (16-token buckets) — the "
    "first chart of every corpus datasheet, and the input to length-cut "
    "decisions (truncation budgets, the quality filter's min-length "
    "knob). Scale: pure map-side bucketing + one partial aggregate; "
    "|langs| x |buckets| output rows.",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = text_ops.token_count("text")
    bucket = (F.floor(n / 16) * 16).cast("bigint")
    return (
        docs.select("lang", n.alias("n_tokens"), bucket.alias("bucket_lo"))
        .groupBy("lang", "bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bucket_tokens"),
        )
        .orderBy("lang", "bucket_lo")
    )


def _leakfree_split_oracle() -> str:
    bounds = sampling.split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    (t_name, t1), (v_name, t2), (rest_name, _) = bounds
    key = "md5('split-v1|' || CAST(cluster_id AS VARCHAR))"
    return (
        _SHINGLE_CTE.replace("WITH words", "WITH RECURSIVE words")
        + f""",
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT i.d1, i.d2
      FROM inter i
      JOIN sizes s1 ON i.d1 = s1.doc_id
      JOIN sizes s2 ON i.d2 = s2.doc_id
      WHERE i.n_common / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM jpairs
      UNION
      SELECT d2 AS src, d1 AS dst FROM jpairs
    ),
    reach(id, c) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.c FROM reach r JOIN edges e ON r.id = e.src
      WHERE r.c < e.dst
    ),
    comp AS (SELECT id, MIN(c) AS cluster_id FROM reach GROUP BY id),
    labeled AS (
      SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
    ),
    assigned AS (
      SELECT doc_id, cluster_id, n_chars,
             CASE WHEN {key} < '{t1}' THEN '{t_name}'
                  WHEN {key} < '{t2}' THEN '{v_name}'
                  ELSE '{rest_name}' END AS split
      FROM labeled
    ),
    straddle AS (
      SELECT CAST(MAX(cnt) AS BIGINT) AS m FROM (
        SELECT cluster_id, COUNT(DISTINCT split) AS cnt
        FROM assigned GROUP BY 1
      )
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           (SELECT m FROM straddle) AS max_splits_per_cluster
    FROM assigned
    GROUP BY split
    ORDER BY split
    """
    )


@register(
    "leakfree_split_stats",
    tier=1,  # r7 demotion (judged r4-r6): split/sampling family co-judged by
    # epoch_shuffle_shards + source_quota_cap + curriculum_phases (tier 0)
    oracle=_leakfree_split_oracle(),
    doc="Leakage-free train/val/test split (80/10/10): the split key is "
    "the near-dup CLUSTER id (connected components over word-3-gram "
    "Jaccard >= 0.5 pairs; singleton docs are their own cluster), so an "
    "entire duplicate family moves between splits atomically and a "
    "test document can never have a near-copy in train — the eval-"
    "contamination guard doc-keyed splits (dataset_split_stats) cannot "
    "give. max_splits_per_cluster == 1 is PROVEN in the output, not "
    "assumed. Scale: cluster labels come from the CC loop (graph-sized, "
    "not corpus-sized); the label join is one doc_id-keyed shuffle; the "
    "md5 split assignment stays pure map-side CASE on the cluster id.",
)
def leakfree_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _neardup_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, "d1", "d2").select(
        F.col("id").alias("doc_id"), "component"
    )
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("component", "doc_id"))
    )
    assigned = sampling.hash_split(
        labeled, "cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        seed="split-v1",
    )
    straddle = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("cnt"))
        .agg(F.max("cnt").cast("bigint").alias("max_splits_per_cluster"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(straddle))
        .select(
            "split", "n_docs", "n_clusters", "sum_chars",
            "max_splits_per_cluster",
        )
        .orderBy("split")
    )


@register(
    "embedding_drift",
    tier=1,  # extended monitoring surface; centroid machinery judged via embedding_centroids
    oracle="""
    WITH halves AS (
      SELECT label, vec_id % 2 AS half, embedding FROM embeddings
    ),
    exploded AS (
      SELECT label, half,
             unnest(range(1, len(embedding) + 1)) AS pos,
             unnest(embedding) AS v
      FROM halves
    ),
    cents AS (
      SELECT label, half, pos, ROUND(AVG(CAST(v AS DOUBLE)), 4) AS c
      FROM exploded GROUP BY 1, 2, 3
    ),
    paired AS (
      SELECT a.label, a.pos, a.c AS c0, b.c AS c1
      FROM cents a JOIN cents b
        ON a.label = b.label AND a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1
    ),
    geom AS (
      SELECT label,
             ROUND(SUM(c0 * c1)
                   / sqrt(SUM(c0 * c0) * SUM(c1 * c1)), 4) AS centroid_cosine,
             ROUND(sqrt(SUM((c0 - c1) * (c0 - c1))), 4) AS centroid_l2
      FROM paired GROUP BY label
    ),
    sizes AS (
      SELECT label,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
      FROM halves GROUP BY label
    )
    SELECT label, n_even, n_odd, centroid_cosine, centroid_l2
    FROM geom JOIN sizes USING (label)
    ORDER BY label
    """,
    doc="Embedding drift report — the corpus-monitoring read between two "
    "snapshots (stood in by the deterministic even/odd vec_id halves): "
    "per label, half sizes plus cosine and L2 distance between the two "
    "half centroids. A production pipeline runs this between ingest "
    "waves to catch encoder regressions or source shifts before "
    "retraining. Scale: centroids via posexplode two-phase aggregate "
    "(|labels| x 2 x dim cells, corpus-size-independent — the "
    "embedding_centroids shape); the geometry pass runs over those "
    "cells only. Centroid components ROUND(4)-pinned before the "
    "geometry so both engines fold identical doubles.",
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    halves = emb.select(
        "label", (F.col("vec_id") % 2).alias("half"), "embedding"
    )
    cents = (
        halves.select(
            "label", "half", F.posexplode("embedding").alias("pos", "v")
        )
        .groupBy("label", "half", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 4).alias("c"))
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c0")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c1")
    )
    geom = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.round(
                F.sum(F.col("c0") * F.col("c1"))
                / F.sqrt(
                    F.sum(F.col("c0") * F.col("c0"))
                    * F.sum(F.col("c1") * F.col("c1"))
                ),
                4,
            ).alias("centroid_cosine"),
            F.round(
                F.sqrt(F.sum((F.col("c0") - F.col("c1")) ** 2)), 4
            ).alias("centroid_l2"),
        )
    )
    sizes = halves.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_even"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_odd"),
    )
    return (
        geom.join(sizes, "label")
        .select("label", "n_even", "n_odd", "centroid_cosine", "centroid_l2")
        .orderBy("label")
    )


#: Fixed BM25 demo query terms (high-document-frequency corpus words) and
#: the standard Robertson parameters.
_BM25_TERMS = ("join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75

#: Shared DuckDB CTE chain producing `scored` (doc_id, term, raw BM25
#: term score) for the fixed query vocabulary — used by BOTH the
#: bm25_search and hybrid_rrf_retrieval oracles so the formula can
#: never diverge between them (same reason the Spark side shares
#: _bm25_per_doc).
_BM25_SQL_CTES = f"""    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    sc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term IN ('join', 'hash', 'scan')
      GROUP BY doc_id, term
    ),
    dfr AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (sc.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / sc.avgdl)) AS s
      FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN sc
    )"""


