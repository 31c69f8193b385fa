"""Domain-pipeline tests.

The golden-file test runs our OSM enrichment over the reference's 26
committed raw bbox CSVs (read-only inputs at /root/reference/data/raw/)
and diffs the pivoted counts against its committed output
``data/processed/combined_bbox_summary_final.csv`` — the only golden data
the reference ships (SURVEY.md §5 test plan item 2). Geocode columns come
from that same committed file (the S9 static-lookup contract), so only
the 16 count columns are computed and compared.
"""

from __future__ import annotations

import csv
import os

import pyspark.sql.functions as F
import pytest

from traffic_accidents_airflow_kafka_spark.pipeline import ingest, merge, osm
from traffic_accidents_airflow_kafka_spark.schemas import BBOX_COUNT_COLUMNS

from .conftest import GOLDEN_SKIP_REASON

RAW_GLOB = "/root/reference/data/raw/bbox_*_osm.csv"
GOLDEN = "/root/reference/data/processed/combined_bbox_summary_final.csv"

needs_reference_data = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason=GOLDEN_SKIP_REASON
)


def _golden_rows() -> dict[str, dict[str, int]]:
    with open(GOLDEN, newline="") as fh:
        rows = list(csv.DictReader(fh))
    return {
        r["bbox_label"]: {c: int(float(r[c])) for c in BBOX_COUNT_COLUMNS}
        for r in rows
    }


@needs_reference_data
def test_bbox_summary_matches_reference_golden_file(spark):
    counts = osm.classified_counts(osm.read_osm_raw(spark, RAW_GLOB))
    summary = osm.pivot_summary(counts)
    got = {
        r["bbox_label"]: {c: r[c] for c in BBOX_COUNT_COLUMNS}
        for r in summary.collect()
    }
    golden = _golden_rows()
    # Only the 26 committed raw files are comparable (10 more summary rows
    # came from raw files the reference repo ships as MISSING_LARGE_BLOBS).
    assert len(got) == 26
    mismatches = []
    for label, ours in got.items():
        assert label in golden, f"{label} missing from golden summary"
        for c in BBOX_COUNT_COLUMNS:
            if ours[c] != golden[label][c]:
                mismatches.append((label, c, ours[c], golden[label][c]))
    assert not mismatches, f"count mismatches vs golden file: {mismatches[:10]}"


@needs_reference_data
def test_geocode_lookup_attach(spark):
    counts = osm.classified_counts(osm.read_osm_raw(spark, RAW_GLOB))
    summary = osm.pivot_summary(counts)
    lookup = (
        spark.read.option("header", "true")
        .csv(GOLDEN)
        .select("bbox_label", "city", "county", "state", "postcode")
    )
    out = osm.attach_geocode(summary, lookup)
    rows = {r["bbox_label"]: r for r in out.collect()}
    # Spot-check against the committed file's own values.
    with open(GOLDEN, newline="") as fh:
        golden = {r["bbox_label"]: r for r in csv.DictReader(fh)}
    r = rows["bbox_35.0_-81.0"]
    g = golden["bbox_35.0_-81.0"]
    assert r["county"] == g["county"] and r["state"] == g["state"]
    # Every row has non-null geo strings after the fillna contract.
    assert all(x["city"] is not None and x["postcode"] is not None for x in rows.values())


ACC_CSV_HEADER = (
    "id,crash_date,traffic_control_device,weather_condition,lighting_condition,"
    "first_crash_type,trafficway_type,alignment,roadway_surface_cond,road_defect,"
    "crash_type,intersection_related,damage,prim_contributory_cause,num_units,"
    "most_severe_injury,injuries_total,injuries_fatal,injuries_incapacitating,"
    "injuries_non_incapacitating,injuries_reported_not_evident,injuries_no_indication,"
    "crash_hour,crash_day_of_week,crash_month,start_lat,start_lng"
)


@pytest.fixture()
def accidents_csv(tmp_path):
    rows = [
        # id=1: clean row inside bbox_35.0_-81.0, UNKNOWN weather → OTHER.
        '1,07/29/2023 01:45:00 PM,SIGNAL,UNKNOWN,DAYLIGHT,REAR END,DIVIDED,LEVEL,'
        'DRY,NONE,INJURY,Y,OVER $1500,FOLLOWED TOO CLOSELY,2,INCAPACITATING INJURY,'
        "1.0,0.0,1.0,0.0,0.0,1.0,13,7,7,35.2,-80.9",
        # id=2: bad timestamp, negative coords → floor-bin edge, N flag.
        '2,not a date,STOP SIGN,RAIN,DARKNESS,ANGLE,UNDIVIDED,CURVE,WET,RUT,'
        "NO INJURY,N,$500 OR LESS,WEATHER,1,NO INDICATION OF INJURY,"
        "0.0,0.0,0.0,0.0,0.0,2.0,3,2,1,-80.3,35.2",
    ]
    p = tmp_path / "acc.csv"
    p.write_text(ACC_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    return str(p)


def test_ingest_clean_accidents(spark, accidents_csv):
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    rows = {r["id"]: r for r in cleaned.collect()}
    r1, r2 = rows[1], rows[2]
    assert r1["crash_date"].hour == 13  # 01:45 PM
    assert r1["crash_day_name"] == "Saturday" and r1["crash_time"] == "13:45:00"
    assert r1["weather_condition"] == "OTHER"  # UNKNOWN→OTHER (README.md:30)
    assert r1["intersection_flag"] == 1 and r2["intersection_flag"] == 0
    assert r1["severity_rank"] == 3 and r2["severity_rank"] == 0
    assert r2["crash_date"] is None and r2["crash_parse_failed"] == 1
    assert ingest.parse_failure_count(cleaned) == 1


def test_merge_bins_labels_and_joins(spark, accidents_csv):
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    # Minimal 2-bbox summary; id=1 lands in bbox_35.0_-81.0, id=2 in
    # bbox_-80.5_35.0 (floor semantics on the negative latitude).
    counts = {c: 0 for c in BBOX_COUNT_COLUMNS}
    summary = spark.createDataFrame(
        [
            {"bbox_label": "bbox_35.0_-81.0", **counts, "city": "Gastonia",
             "county": "Gaston County", "state": "North Carolina", "postcode": ""},
        ]
    )
    merged = merge.merge_accidents(cleaned, summary)
    out = merged.collect()
    # INNER join: only id=1 falls in a covered bbox; id=2 drops.
    assert [r["id"] for r in out] == [1]
    r = out[0]
    assert r["lat_bin"] == 35.0 and r["lng_bin"] == -81.0
    assert r["bbox_label"] == "bbox_35.0_-81.0"
    assert r["aprox_postcode"] is None  # '' → null (F9)
    assert list(merged.columns) == list(merge.FINAL_COLUMNS)

    # Incremental anti-filter: nothing new once id=1 is "loaded" (J4).
    existing = spark.createDataFrame([(1,)], "id int")
    assert merge.incremental_new_rows(merged, existing).count() == 0


def test_negative_coord_floor_binning(spark, accidents_csv):
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    labeled = merge.with_bbox_label(cleaned)
    r2 = {r["id"]: r for r in labeled.collect()}[2]
    # Python parity: -80.3 // 0.5 * 0.5 == -80.5 (never truncation to -80.0).
    assert r2["lat_bin"] == -80.5
    assert r2["bbox_label"] == "bbox_-80.5_35.0"


def test_run_pipeline_end_to_end_and_idempotent(spark, accidents_csv, tmp_path):
    """The DAG-equivalent job: ingest → OSM summary → merge → star, twice
    through the same out_dir — the second run must be a no-op (memoized
    stages skip, upserts insert zero)."""
    from traffic_accidents_airflow_kafka_spark.pipeline.job import run_pipeline

    # One OSM raw file for the bbox id=1 lands in (filename carries the
    # label, matching the reference's per-file loop).
    osm_dir = tmp_path / "osm"
    osm_dir.mkdir()
    (osm_dir / "bbox_35.0_-81.0_osm.csv").write_text(
        "bbox_label,category,latitude,longitude,tags\n"
        '35.0_-81.0,traffic_signals,35.1,-80.9,"{\'highway\': \'traffic_signals\'}"\n'
        '35.0_-81.0,school,35.2,-80.8,"{\'amenity\': \'school\'}"\n'
    )
    geocode = spark.createDataFrame(
        [("bbox_35.0_-81.0", "Gastonia", "Gaston County", "North Carolina", "28054")],
        "bbox_label string, city string, county string, state string, postcode string",
    )
    out = str(tmp_path / "warehouse")

    r1 = run_pipeline(spark, accidents_csv, str(osm_dir / "bbox_*_osm.csv"), geocode, out)
    assert r1["ingest_wrote"] and r1["summary_wrote"]
    assert r1["ingest_rows"] == 2 and r1["ingest_parse_failures"] == 1
    assert r1["summary_rows"] == 1
    assert r1["final_new_rows"] == 1 and r1["final_rows"] == 1  # id=2 outside bbox
    assert r1["fact_new_rows"] == 1 and r1["fact_rows"] == 1
    assert all(v == 0 for v in r1["fk_violations"].values())
    assert r1["dim_weather_rows"] == 1 and r1["dim_date_rows"] == 1

    r2 = run_pipeline(spark, accidents_csv, str(osm_dir / "bbox_*_osm.csv"), geocode, out)
    assert not r2["ingest_wrote"] and not r2["summary_wrote"]  # memoized skip
    assert r2["final_new_rows"] == 0 and r2["fact_new_rows"] == 0  # upsert no-op
    assert r2["final_rows"] == 1 and r2["fact_rows"] == 1
    assert all(v == 0 for v in r2["fk_violations"].values())
