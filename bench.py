"""Benchmark runner: executes every catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs once untimed (codegen/broadcast warmup) then twice timed
(plan + execution to a driver-side collect of the small aggregate
result); the reported number is the min. When the two timed samples
disagree by more than 2x, a THIRD timed run breaks the tie; identical
double spikes carry no in-run signal, which is why every raw sample is
also recorded under "samples" in the JSON — cross-run comparison then
sees them as data instead of inferring them.

Noise caveat (measured, round 3): queries late in the shared session can
read up to ~2-3x their isolated time from accumulated JVM/GC session
pressure (e.g. rollup_status_priority: 2.7 s in-catalog vs 0.7-1.0 s
isolated; pricing_summary read 2.0 s in round 2's catalog run vs 1.2-1.3 s
isolated in rounds 1 and 3 with identical plans; largely mitigated by the
per-query clearCache+gc hygiene below — 227.7 s -> 164.7 s catalog total
at sf0.1, same code, same host), and ambient host load
moves the catalog total by ~±20% between back-to-back runs (38.2 s vs
53.7 s observed same-day with identical code; ~40 s on a quiet machine).
Cross-round comparisons of individual queries should re-measure in
isolation before being treated as plan regressions; the catalog total
amortizes per-query noise but not host load.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

from traffic_accidents_airflow_kafka_spark.plans import QUERY_REGISTRY
from traffic_accidents_airflow_kafka_spark.plans.llm_shared import artifact_build_times
from traffic_accidents_airflow_kafka_spark.session import get_spark
from traffic_accidents_airflow_kafka_spark.streaming.fanout import (
    last_run_metadata as fanout_metadata,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # --tier0-only: bench just the driver-judged window (fast iteration
    # mode). The default full run still reports tier0_total/tier1_total
    # separately in the JSON tail, so the judged-window number stays
    # visible as the catalog grows.
    tier0_only = "--tier0-only" in sys.argv[1:]
    registry = {
        name: spec
        for name, spec in QUERY_REGISTRY.items()
        if not tier0_only or spec.tier == 0
    }

    # Ambient host load moves the catalog total by ~±20-35% between
    # back-to-back runs of identical code (266 s vs 197 s observed in
    # round 4). Recording 1-min loadavg at start and end lets later
    # rounds tell host contention from plan regressions WITHOUT a
    # re-run: if loadavg_start/end sit well above the worker count used
    # by other processes on a quiet host (~0-2 here beyond our own
    # local[32] job), treat cross-round deltas per the noise protocol
    # (re-measure isolated) before calling anything a regression.
    load_start = os.getloadavg()[0]

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # --progress: per-query timing lines on STDERR as the run advances
    # (the stdout one-JSON-line contract is untouched) — lets a wedged
    # or slow entry be identified without instrumenting the loop.
    progress = "--progress" in sys.argv[1:]

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name, spec in registry.items():
        if progress:
            print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        # Warmup absorbs one-time costs (codegen, broadcast build, the
        # streaming subsystem's first-query init) so every entry reports
        # steady state on equal terms. Timed runs rebuild the DataFrame
        # from scratch — re-collecting the same one would reuse shuffle
        # files (stage skip) and report only the final stage. Min of two
        # fresh runs damps scheduler jitter.
        spec.fn(spark, sf_dir).collect()
        query_samples = []
        for _ in range(2):
            start = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            query_samples.append(time.perf_counter() - start)
        # Spike guard (r7 VERDICT #7): when the two samples disagree
        # by >2x, something transient hit one of them — take a third so
        # the min has a quorum. This catches UNEQUAL double-sample
        # noise; two samples inflated identically (ratio ~1) carry no
        # in-run signal and still report the spiked min — which is why
        # all raw samples are ALSO recorded in the JSON: cross-run
        # comparison can then see the spike instead of inferring it
        # from archaeology (run023's two lost entries).
        if max(query_samples) > 2 * min(query_samples):
            start = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            query_samples.append(time.perf_counter() - start)
        best = min(query_samples)
        timings[name] = round(best, 4)
        samples[name] = [round(s, 4) for s in query_samples]
        if progress:
            print(f"[bench] {name} {best:.3f}s", file=sys.stderr, flush=True)
        # Session hygiene between queries: drop cached relations and force
        # Python GC so the JVM ContextCleaner can free checkpointed RDD
        # blocks / broadcast vars whose Python handles just went out of
        # scope. Measured at sf0.1: without this, queries late in the
        # 151-entry session read 2-4x their isolated time (catalog total
        # 227.7 s vs 164.7 s with hygiene, same code, same host).
        spark.catalog.clearCache()
        gc.collect()

    total = round(sum(timings.values()), 4)
    tier0_total = round(
        sum(t for n, t in timings.items() if registry[n].tier == 0), 4
    )
    result = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        # Both totals in the tail (r5 VERDICT #8): the judged-window
        # number stays comparable across rounds while the full catalog
        # keeps growing.
        "tier0_total": tier0_total,
        "tier1_total": round(total - tier0_total, 4),
        "n_queries": len(timings),
        "tier0_only": tier0_only,
        # Build-once artifact memos (plans/llm_shared.py:_artifact) are built
        # during the FIRST consumer's untimed warmup, so per-query
        # timings above are steady-state consumer cost only. This field
        # makes that accounting explicit: the one-time build seconds per
        # artifact, so cross-round catalog totals are self-describing
        # (total engine work = value + sum(artifact_build_sec)).
        "artifact_build_sec": artifact_build_times(),
        # stream_topics_fanout breakdown (r9 VERDICT #5): per-topic
        # sink-job wall seconds from the LAST timed run plus which
        # topic-3 join path was active ("bucketed" is the default;
        # "broadcast" means the build fell back — a plan change the r9
        # round almost missed), so the catalog's heaviest entry is
        # adjudicable per topic instead of one opaque number. The seven
        # jobs run concurrently: compare a topic to itself across runs.
        "fanout": fanout_metadata(),
        # Per-query raw samples (r7 VERDICT #7): every timed run,
        # including the conditional third taken when the first two
        # disagree by >2x — spikes become visible data, not
        # next-round archaeology.
        "samples": samples,
    }
    print(json.dumps(result))
    # Persist the FULL result in-repo: the driver's recorded BENCH_r{N}.json
    # keeps only a 2000-char tail of stdout, which truncates the per-query
    # map for a 150+-entry catalog (round 3's totals were lost this way).
    # One numbered file per run makes the per-query history diffable
    # across rounds; runs are cheap (a few KB each) and committed.
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results")
    os.makedirs(out_dir, exist_ok=True)
    # max existing index + 1 (NOT a file count: a gap in the sequence —
    # e.g. an uncommitted run deleted — would make a count collide with
    # and overwrite the newest committed result).
    stem = f"sf{sf}_tier0_run" if tier0_only else f"sf{sf}_run"
    existing = [
        int(f[len(stem):-len(".json")])
        for f in os.listdir(out_dir)
        if f.startswith(stem) and f.endswith(".json")
        and f[len(stem):-len(".json")].isdigit()
    ]
    run_idx = max(existing, default=0) + 1
    with open(os.path.join(out_dir, f"{stem}{run_idx:03d}.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
