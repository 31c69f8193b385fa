"""Session scoping: ``with_conf`` clones, ``bind`` hands plans between
sessions, and the conf-sized loops leave the caller's session alone even
while they run on other threads."""

from __future__ import annotations

import threading
import time

import pyspark.sql.functions as F

from traffic_accidents_airflow_kafka_spark.operators import bpe, graph

SHUFFLE = "spark.sql.shuffle.partitions"


def test_with_conf_copies_runtime_conf(spark):
    from traffic_accidents_airflow_kafka_spark.session import with_conf

    # A runtime-only setting: a fresh session (built from the SparkConf)
    # does not carry it, so a newSession()-based helper fails here.
    parent = with_conf(spark, {"spark.sql.caseSensitive": "true"})
    assert parent.newSession().conf.get("spark.sql.caseSensitive") == "false"
    assert with_conf(parent, {}).conf.get("spark.sql.caseSensitive") == "true"


def test_with_conf_never_reaches_the_parent(spark):
    from traffic_accidents_airflow_kafka_spark.session import with_conf

    parent = with_conf(spark, {SHUFFLE: "5"})
    child = with_conf(parent, {SHUFFLE: "3", "spark.sql.caseSensitive": "true"})
    assert child.conf.get(SHUFFLE) == "3"
    assert parent.conf.get(SHUFFLE) == "5"
    assert parent.conf.get("spark.sql.caseSensitive") == "false"
    assert spark.conf.get(SHUFFLE) == "8"


def test_bind_plans_under_the_target_session(spark):
    from traffic_accidents_airflow_kafka_spark.session import bind, with_conf

    # AQE off so the planned partition count is exact.
    parent = with_conf(spark, {"spark.sql.adaptive.enabled": "false", SHUFFLE: "8"})
    child = with_conf(parent, {SHUFFLE: "3"})
    df = parent.range(100).withColumn("k", F.col("id") % 7)
    in_child = bind(df, child).groupBy("k").count()
    assert in_child.rdd.getNumPartitions() == 3
    back = bind(in_child, parent)
    assert back.sparkSession is parent
    assert back.rdd.getNumPartitions() == 8
    assert sorted(r["count"] for r in back.collect()) == sorted(
        r["count"] for r in in_child.collect()
    )


def test_run_available_now_state_partitions_are_scoped(spark, tmp_path):
    from traffic_accidents_airflow_kafka_spark.streaming import core as streaming

    src = str(tmp_path / "src")
    spark.range(200).select((F.col("id") % 50).alias("k")).write.parquet(src)
    stream = spark.readStream.schema("k long").parquet(src)
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    out = streaming.run_available_now(
        agg.select("k", "n", F.spark_partition_id().alias("pid")),
        spark,
        state_partitions=3,
    )
    rows = out.collect()
    assert out.sparkSession is spark
    assert sorted((r["k"], r["n"]) for r in rows) == [(k, 4) for k in range(50)]
    # The stateful shuffle ran at 3 partitions; the parent kept its own.
    assert {r["pid"] for r in rows} == {0, 1, 2}
    assert spark.conf.get(SHUFFLE) == "8"


def test_train_bpe_on_a_thread_never_changes_the_callers_conf(spark):
    docs = spark.createDataFrame(
        [("low lower lowest newer newest",), ("low low new newer",)] * 4,
        "text STRING",
    )
    want = bpe.train_bpe(docs, n_merges=6, use_cache=False).collect()
    got: list = []
    worker = threading.Thread(
        target=lambda: got.extend(
            tuple(r)
            for r in bpe.train_bpe(
                docs, n_merges=6, vocab_partitions=3, use_cache=False
            ).collect()
        )
    )
    seen = set()
    polls = 0
    deadline = time.monotonic() + 300
    worker.start()
    while worker.is_alive() and time.monotonic() < deadline:
        seen.add(spark.conf.get(SHUFFLE))
        polls += 1
        time.sleep(0.002)
    worker.join(timeout=1)
    assert not worker.is_alive()
    assert polls > 0
    assert seen <= {"8"}, seen
    assert sorted(got) == sorted(map(tuple, want))


def test_concurrent_pagerank_loops_on_different_graphs(spark, monkeypatch):
    from concurrent.futures import ThreadPoolExecutor

    from traffic_accidents_airflow_kafka_spark.session import with_conf

    # Small graphs with a small per-partition edge budget, so the two loops
    # need different shuffle sizes; AQE off so each result's partition
    # count shows the size its loop ran at.
    monkeypatch.setattr(graph, "EDGES_PER_LOOP_PARTITION", 40)
    parent = with_conf(spark, {"spark.sql.adaptive.enabled": "false"})
    small = parent.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "d1 long, d2 long"
    )
    large = parent.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40)]
        + [(i, (i * 11 + 5) % 40) for i in range(40)],
        "d1 long, d2 long",
    )
    n_small = graph.prepare_pair_graph(small).n_edges
    n_large = graph.prepare_pair_graph(large).n_edges
    parts_small = graph.loop_partitions(parent, n_small)
    parts_large = graph.loop_partitions(parent, n_large)
    assert len({parts_small, parts_large, 8}) == 3

    def float_ranks():
        return graph.pagerank(small, iters=10, tol=None)

    def fixed_ranks():
        return graph.pagerank_fixedpoint(large, iters=10)

    solo_fl = {r["id"]: r["rank"] for r in float_ranks().collect()}
    solo_fx = {r["id"]: r["rank_u"] for r in fixed_ranks().collect()}
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fl, f_fx = pool.submit(float_ranks), pool.submit(fixed_ranks)
        fl, fx = f_fl.result(), f_fx.result()
    assert fl.rdd.getNumPartitions() == parts_small
    assert fx.rdd.getNumPartitions() == parts_large
    assert {r["id"]: r["rank_u"] for r in fx.collect()} == solo_fx
    got_fl = {r["id"]: r["rank"] for r in fl.collect()}
    assert set(got_fl) == set(solo_fl)
    assert all(abs(got_fl[k] - solo_fl[k]) < 1e-12 for k in solo_fl)
    assert parent.conf.get(SHUFFLE) == "8"
    assert spark.conf.get(SHUFFLE) == "8"


def test_default_driver_memory_caps_at_host_ram(tmp_path):
    from traffic_accidents_airflow_kafka_spark.session import default_driver_memory

    def meminfo(text: str) -> str:
        path = tmp_path / "meminfo"
        path.write_text(text)
        return str(path)

    head = "MemFree:         1000000 kB\n"
    # 15.7 GiB host: 16070 MiB total minus 4096 MiB headroom.
    host = meminfo(f"MemTotal:       16456384 kB\n{head}")
    assert default_driver_memory(host) == "11974m"
    assert default_driver_memory(meminfo("MemTotal:       67108864 kB\n")) == "16384m"
    assert default_driver_memory(meminfo("MemTotal:        2097152 kB\n")) == "1024m"
    assert default_driver_memory(meminfo(head)) == "16g"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
