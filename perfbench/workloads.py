"""The workloads: what each sets up, what one operation is, and how each
operation's output is checked.

Each workload is a closed loop driven by one client: ``run.py`` calls
``op()`` again only after the previous call returned. ``generate`` writes
the inputs for the seed; ``setup`` computes the reference answers and
runs untimed warm-ups; ``after`` runs the checks that follow the timed
operations and returns what they measured and '' or why they failed.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

import gen_etl
import gen_tables

#: Plan modules whose batch entries form the analyst workload.
ANALYST_MODULES = ("analytics", "topics", "star", "operators_core", "stats")
#: Fraction of the reference's input size the ETL workload generates.
ETL_SCALE = 0.01
#: Scale factor of the generated star-schema tables.
TABLES_SF = 0.002
#: Untimed refreshes before the dashboard's timed ones. The first builds the
#: bucketed-orders artifact; refresh time then still falls over the next
#: three or so, which the median of the timed ones leaves out.
WARMUP_REFRESHES = 2


@dataclass
class Sample:
    """One timed call into the program and whether its output checked."""

    name: str
    seconds: float
    ok: bool
    error: str = ""
    detail: dict = field(default_factory=dict)


# -- result comparison -------------------------------------------------------


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "item") and not isinstance(v, (datetime, date)):
        return v.item()  # numpy scalar
    return v


def _sort_key(row):
    return tuple(
        (0, 0) if v is None else (1, round(v, 6)) if isinstance(v, float) else (2, str(v))
        for v in row
    )


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def canonical(columns, rows) -> tuple[tuple, list[tuple]]:
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(_norm(r[i]) for i in order) for r in rows]
    return tuple(columns[i] for i in order), sorted(norm, key=_sort_key)


def same_result(got, want) -> str:
    """'' when two canonical results agree, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _close(a, b):
            return f"row {i}: {a} != {b}"
    return ""


def collect(df) -> tuple[list[str], list[tuple]]:
    """Collect a DataFrame inside the timed region; canonicalize later."""
    return df.columns, [tuple(r) for r in df.collect()]


def oracle_answers(sf_dir: str, tables, specs) -> dict:
    """Each catalog entry's registry oracle (DuckDB SQL over the same
    parquet files), canonicalized."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for spec in specs:
            cur = con.execute(spec.oracle)
            out[spec.name] = canonical([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# -- workloads ---------------------------------------------------------------


class EtlLoad:
    """``pipeline.job.run_pipeline`` on generated accident and OSM inputs.
    One operation is a load into a fresh output directory.

    Set-up runs the first pipeline run of the process, checked: the daily
    ETL as a fresh application pays its JVM warm-up, so it is timed and
    reported as ``cold_load_s``. The timed loads that follow measure the
    pipeline rather than JIT compilation, whose length on a shared host
    varies far more than the pipeline's. A traced run ends with an
    idempotent replay into the cold load's directory, checked and timed
    (``replay_s``); untraced runs leave it out to stay within the time
    the benchmark may take."""

    name = "etl_load"
    min_ops = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n = 0

    def generate(self, into: str) -> None:
        self.manifest = gen_etl.generate(self.seed, ETL_SCALE, into)

    def setup(self) -> dict:
        self.geocode = self.spark.createDataFrame(
            [tuple(r) for r in self.manifest["geocode"]],
            "bbox_label string, city string, county string, state string, postcode string",
        )
        self.cold_dir = os.path.join(self.work, "out_cold")
        seconds, err = self._run(self.cold_dir, "setup:cold_load", "check", replay=False)
        if err:
            raise RuntimeError(f"cold load is wrong: {err}")
        return {"planted": self.manifest["planted"], "cold_load_s": seconds}

    def after(self, traced: bool) -> tuple[dict, str]:
        if not traced:
            return {}, ""
        seconds, err = self._run(self.cold_dir, "check:replay", "check", replay=True)
        return {"replay_s": seconds}, err and f"replay: {err}"

    def _check(self, report: dict, out_dir: str, replay: bool) -> str:
        want = dict(self.manifest["report"])
        want.update(
            ingest_wrote=not replay,
            summary_wrote=not replay,
            final_new_rows=0 if replay else want["final_rows"],
            fact_new_rows=0 if replay else want["fact_rows"],
        )
        bad = {k: (report.get(k), v) for k, v in want.items() if report.get(k) != v}
        if bad:
            return f"report mismatch (got, want): {bad}"
        import pyarrow.parquet as pq

        summary = pq.read_table(os.path.join(out_dir, "bbox_summary")).to_pylist()
        got = {r["bbox_label"]: {c: r[c] for c in gen_etl.COUNT_COLUMNS} for r in summary}
        if got != self.manifest["summary_counts"]:
            return "bbox summary counts differ from the generator's"
        return ""

    def _run(self, out_dir: str, span: str, kind: str, replay: bool) -> tuple[float, str]:
        """One checked pipeline run into ``out_dir``: its seconds and ''
        or why its output is wrong."""
        from traffic_accidents_airflow_kafka_spark.pipeline.job import run_pipeline

        t0 = time.perf_counter()
        with self.tracer.span(span, kind=kind):
            report = run_pipeline(
                self.spark,
                self.manifest["accidents_csv"],
                self.manifest["osm_glob"],
                self.geocode,
                out_dir,
            )
        return time.perf_counter() - t0, self._check(report, out_dir, replay)

    def op(self) -> list[Sample]:
        self.n += 1
        out_dir = os.path.join(self.work, f"out_{self.n}")
        seconds, err = self._run(out_dir, f"op{self.n}:load", "op", replay=False)
        shutil.rmtree(out_dir, ignore_errors=True)
        return [Sample("load", seconds, not err, err)]


def run_entry(spark, spec, sf_dir: str, tracer, span: str, kind: str):
    """Build, plan and collect one catalog entry inside a span; return the
    collected result and its seconds. When traced, the span records the
    driver-side build and the Catalyst planning time (``collect`` reuses
    the plan the split forced, so the split adds no planning work)."""
    t0 = time.perf_counter()
    with tracer.span(span, kind=kind) as s:
        df = spec.fn(spark, sf_dir)
        if s is not None:
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            s.attrs.update(build_s=t1 - t0, plan_s=time.perf_counter() - t1)
        got = collect(df)
    return got, time.perf_counter() - t0


def compare_topics(got: dict, want: dict) -> str:
    if set(got) != set(want):
        return f"topics {sorted(got)} != {sorted(want)}"
    for t in sorted(want):
        why = same_result(got[t], want[t])
        if why:
            return f"{t}: {why}"
    return ""


class DashboardRefresh:
    """``streaming.fanout.run_topics_fanout``: one operation is one
    availableNow drain of the envelope stream into the 7 topic sinks plus
    collecting the 7 merged topics. A dashboard refreshes for as long as
    it is open, so its first refreshes (the first builds the
    bucketed-orders artifact) are set-up.

    Every refresh's merged topics must equal the 7 ``plans.topics``
    entries' DuckDB oracles. A traced run ends with the dashboard's batch
    twin: the 7 batch entries run once, each in its own span, which samples
    the plan layer, and must equal the same oracles. Untraced runs leave
    the twin out to stay within the time the benchmark may take."""

    name = "dashboard_refresh"
    min_ops = 6

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n = 0

    def generate(self, into: str) -> None:
        self.rows = gen_tables.write_tables(self.seed, TABLES_SF, into)
        self.sf_dir = into

    def _refresh(self) -> dict:
        from traffic_accidents_airflow_kafka_spark.streaming.fanout import run_topics_fanout

        out = run_topics_fanout(self.spark, self.sf_dir)
        return {t: canonical(*collect(df)) for t, df in out.items()}

    def setup(self) -> dict:
        from traffic_accidents_airflow_kafka_spark.plans import QUERY_REGISTRY
        from traffic_accidents_airflow_kafka_spark.streaming.core import TOPICS

        self.specs = [QUERY_REGISTRY[t] for t in TOPICS]
        self.want = oracle_answers(self.sf_dir, self.rows, self.specs)
        for _ in range(WARMUP_REFRESHES):
            err = compare_topics(self._refresh(), self.want)
            if err:
                raise RuntimeError(f"warm-up refresh is wrong: {err}")
        return {"rows": self.rows}

    def op(self) -> list[Sample]:
        from traffic_accidents_airflow_kafka_spark.streaming.fanout import (
            last_run_metadata, run_topics_fanout,
        )

        self.n += 1
        t0 = time.perf_counter()
        with self.tracer.span(f"op{self.n}:refresh", kind="op"):
            got = {t: collect(df) for t, df in run_topics_fanout(self.spark, self.sf_dir).items()}
        dt = time.perf_counter() - t0
        err = compare_topics({t: canonical(*r) for t, r in got.items()}, self.want)
        return [Sample("refresh", dt, not err, err, {"meta": last_run_metadata()})]

    def after(self, traced: bool) -> tuple[dict, str]:
        if not traced:
            return {}, ""
        got = {
            spec.name: canonical(*run_entry(
                self.spark, spec, self.sf_dir, self.tracer, f"check:batch:{spec.name}", "check"
            )[0])
            for spec in self.specs
        }
        err = compare_topics(got, self.want)
        return {}, err and f"batch topic entries: {err}"


class AnalystQueries:
    """The batch catalog entries of the analytics, topics, star,
    operators_core and stats plan modules. One operation is one entry; the
    loop runs passes over all of them in an order shuffled by the seed, and
    each entry's DataFrame is built, collected and checked against its
    DuckDB oracle. Defined for runs by hand: a pass costs about 30 s cold,
    more than BENCHMARK.json's run budget leaves for a third workload."""

    name = "analyst_queries"
    min_ops = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.rng = random.Random(seed)
        self.n = 0

    def generate(self, into: str) -> None:
        self.rows = gen_tables.write_tables(self.seed, TABLES_SF, into)
        self.sf_dir = into

    def setup(self) -> dict:
        from traffic_accidents_airflow_kafka_spark.plans import QUERY_REGISTRY

        self.specs = [
            s for s in QUERY_REGISTRY.values()
            if s.fn.__module__.rsplit(".", 1)[-1] in ANALYST_MODULES
        ]
        self.want = oracle_answers(self.sf_dir, self.rows, self.specs)
        return {"entries": len(self.specs), "rows": self.rows}

    def op(self) -> list[Sample]:
        self.n += 1
        order = list(self.specs)
        self.rng.shuffle(order)
        samples = []
        for spec in order:
            got, dt = run_entry(
                self.spark, spec, self.sf_dir, self.tracer, f"op{self.n}:{spec.name}", "op"
            )
            err = same_result(canonical(*got), self.want[spec.name])
            samples.append(Sample(spec.name, dt, not err, err))
        return samples

    def after(self, traced: bool) -> tuple[dict, str]:
        return {}, ""


WORKLOADS = {w.name: w for w in (EtlLoad, DashboardRefresh, AnalystQueries)}
