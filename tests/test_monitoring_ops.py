"""Planted-fixture semantics for the monitoring/governance/retrieval
queries added in round 3: snapshot diff classification, k-anonymity
bucketing, PSI drift detection, and BM25 ranking. The catalog oracle
test proves cross-engine parity; these prove the SEMANTICS on inputs
where the right answer is hand-checkable."""

from __future__ import annotations

import os
from datetime import datetime as dt

from traffic_accidents_airflow_kafka_spark.plans.extensions import (
    k_anonymity_audit,
    snapshot_diff_report,
)
from traffic_accidents_airflow_kafka_spark.plans.llm_retrieval import bm25_search
from traffic_accidents_airflow_kafka_spark.plans.stats import feature_drift_psi

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _write(df, tmp_path, table):
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, f"{table}.parquet"))
    return sf


def _order(key):
    return (key, 1, "O", 100.0, dt(2024, 1, 1), "1-URGENT")


def test_snapshot_diff_classifies_planted_rows(spark, tmp_path):
    """Key 10 (%10=0) exists only in v2 -> added; 15 (%10=5) only in
    v1 -> removed; 13 and 26 (%13=0, in both) -> changed; 1 -> unchanged."""
    orders = spark.createDataFrame(
        [_order(k) for k in (1, 10, 13, 15, 26)], _ORDERS_SCHEMA
    )
    sf = _write(orders, tmp_path, "orders")
    out = {
        r.change_type: (r.n_rows, r.min_key, r.max_key)
        for r in snapshot_diff_report(spark, sf).toPandas().itertuples()
    }
    assert out == {
        "added": (1, 10, 10),
        "removed": (1, 15, 15),
        "changed": (2, 13, 26),
        "unchanged": (1, 1, 1),
    }


def test_k_anonymity_buckets_planted_group_sizes(spark, tmp_path):
    """Groups of size 1 / 3 / 6 / 12 land in the four k buckets with
    exact group and row counts."""
    rows = []
    cust = 0
    for nation, seg, bal, n in [
        (1, "A", 500.0, 1),
        (2, "B", 1500.0, 3),
        (3, "C", 2500.0, 6),
        (4, "D", 3500.0, 12),
    ]:
        for _ in range(n):
            cust += 1
            rows.append((cust, f"c{cust}", nation, bal, seg))
    customer = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    sf = _write(customer, tmp_path, "customer")
    out = {
        r.k_bucket: (r.n_groups, r.n_rows)
        for r in k_anonymity_audit(spark, sf).toPandas().itertuples()
    }
    assert out == {
        "1 (unique)": (1, 1),
        "2-4": (1, 3),
        "5-9": (1, 6),
        "10+": (1, 12),
    }


def test_feature_drift_psi_flags_planted_shift(spark, tmp_path):
    """Ref half uniform on [0, 1000), cur half shifted +800: the upper
    bins drain from ref and flood with cur, so total PSI clears the
    conventional 0.2 'significant drift' bar; bin populations are
    conserved."""
    rows = [
        _order(2 * i)[:3] + (float(i % 1000),) + _order(2 * i)[4:]
        for i in range(1000)
    ] + [
        _order(2 * i + 1)[:3] + (float(i % 1000) + 800.0,) + _order(2 * i + 1)[4:]
        for i in range(1000)
    ]
    orders = spark.createDataFrame(rows, _ORDERS_SCHEMA)
    sf = _write(orders, tmp_path, "orders")
    pdf = feature_drift_psi(spark, sf).toPandas()
    assert len(pdf) == 10
    assert pdf["ref_n"].sum() == 1000 and pdf["cur_n"].sum() == 1000
    # Each ref decile holds ~10% by construction of the bins.
    assert (pdf["ref_pct"] - 0.1).abs().max() < 0.01
    # Drained bins (cur_n=0 here) must contribute large FINITE terms —
    # the epsilon floor keeps ln away from 0 (no NULL/-inf leakage).
    assert pdf["psi_term"].notna().all()
    assert pdf["psi_term"].sum() > 0.2, "planted shift not flagged"


def test_feature_drift_psi_quiet_on_identical_halves(spark, tmp_path):
    """Even/odd halves drawn from the same uniform grid: PSI ~ 0."""
    rows = [
        _order(i)[:3] + (float(i // 2 % 500),) + _order(i)[4:]
        for i in range(2000)
    ]
    orders = spark.createDataFrame(rows, _ORDERS_SCHEMA)
    sf = _write(orders, tmp_path, "orders")
    pdf = feature_drift_psi(spark, sf).toPandas()
    assert pdf["psi_term"].sum() < 0.01


def test_incremental_neardup_probe_finds_corpus_twin(spark, tmp_path):
    """Arrival 5 duplicates corpus doc 1 -> flagged with est_sim 1.0
    against best_old_id 1; arrival 10 shares nothing -> absent; corpus
    docs never pair with each other."""
    from traffic_accidents_airflow_kafka_spark.plans.llm_retrieval import (
        incremental_neardup_arrivals,
    )

    twin = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, twin, "en", "s", len(twin)),
            (2, twin, "en", "s", len(twin)),  # corpus-side dup of 1: must NOT emit
            (5, twin, "en", "s", len(twin)),  # arrival twin
            (10, "completely unrelated words entirely different text", "en", "s", 49),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = _write(docs, tmp_path, "documents")
    pdf = incremental_neardup_arrivals(spark, sf).toPandas()
    assert list(pdf["new_id"]) == [5]
    assert pdf.iloc[0]["best_old_id"] == 1  # old_id tiebreak picks the lowest
    assert pdf.iloc[0]["best_sim"] == 1.0


def test_bm25_ranks_term_dense_short_doc_first(spark, tmp_path):
    """A short doc saturated with the query term outranks a long doc
    mentioning it once; a doc with no query terms never appears."""
    docs = spark.createDataFrame(
        [
            (1, "join join join join", "en", "s", 19),
            (2, "join " + "filler " * 200, "en", "s", 1205),
            (3, "nothing relevant here", "en", "s", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = _write(docs, tmp_path, "documents")
    pdf = bm25_search(spark, sf).toPandas()
    assert list(pdf["doc_id"])[:2] == [1, 2]
    assert 3 not in set(pdf["doc_id"])
    assert pdf.iloc[0]["bm25"] > pdf.iloc[1]["bm25"]
