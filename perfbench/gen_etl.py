"""Seeded generator for the ETL inputs: one accidents CSV, 36 OSM
``bbox_*_osm.csv`` node extracts and a 36-row geocode lookup, with the
answers the pipeline must produce on them.

Value domains follow the engine's FIXTURES.md §1-§3. The generator plants
every edge case the pipeline has a rule for and counts what it planted:

- unparseable ``crash_date`` strings (counted by the ingest stage);
- accidents outside every bbox (dropped by the merge's inner join);
- negative longitudes whose floor bin differs from a truncated bin;
- ``UNKNOWN`` weather and road-defect values (rewritten to ``OTHER``);
- ``injuries_total`` above 10 and NULL;
- stray OSM categories (dropped by the category filter);
- tags whose values embed quote characters (only an exact
  ``ast.literal_eval`` parse reads them), and truncated tags (parse to an
  empty dict).

Rows with an unparseable date that fall inside a covered bbox are kept on
purpose: they reach the fact table with a null date key and the
FK-integrity report counts them under ``dim_date``. The expected answers
below pin that count.

The same ``(seed, scale)`` gives byte-identical files.
"""

from __future__ import annotations

import ast
import csv
import json
import math
import os
import random
from datetime import datetime, timedelta

#: The reference's documented input size.
REFERENCE_ACCIDENTS = 209_306
REFERENCE_OSM_NODES = 512_816

LAT_BINS = tuple(25.0 + 0.5 * i for i in range(6))
LNG_BINS = tuple(-82.5 + 0.5 * i for i in range(6))

ACCIDENT_COLUMNS = (
    "id", "crash_date", "traffic_control_device", "weather_condition",
    "lighting_condition", "first_crash_type", "trafficway_type", "alignment",
    "roadway_surface_cond", "road_defect", "crash_type",
    "intersection_related", "damage", "prim_contributory_cause", "num_units",
    "most_severe_injury", "injuries_total", "injuries_fatal",
    "injuries_incapacitating", "injuries_non_incapacitating",
    "injuries_reported_not_evident", "injuries_no_indication", "crash_hour",
    "crash_day_of_week", "crash_month", "start_lat", "start_lng",
)

DEVICES = ("TRAFFIC SIGNAL", "STOP SIGN/FLASHER", "NO CONTROLS", "UNKNOWN")
WEATHER = ("CLEAR", "CLEAR", "CLEAR", "RAIN", "SNOW", "CLOUDY/OVERCAST",
           "FOG/SMOKE/HAZE", "UNKNOWN", "OTHER")
LIGHTING = ("DAYLIGHT", "DARKNESS", "DARKNESS, LIGHTED ROAD", "DAWN", "DUSK",
            "UNKNOWN")
CRASH_TYPES = ("REAR END", "TURNING", "ANGLE", "PARKED MOTOR VEHICLE",
               "SIDESWIPE SAME DIRECTION", "PEDESTRIAN", "FIXED OBJECT")
TRAFFICWAYS = ("NOT DIVIDED", "DIVIDED - W/MEDIAN (NOT RAISED)", "ONE-WAY",
               "FOUR WAY", "PARKING LOT")
ALIGNMENTS = ("STRAIGHT AND LEVEL", "STRAIGHT ON GRADE", "CURVE, LEVEL")
SURFACES = ("DRY", "WET", "SNOW OR SLUSH", "ICE", "UNKNOWN")
DEFECTS = ("NO DEFECTS", "NO DEFECTS", "UNKNOWN", "RUT, HOLES",
           "WORN SURFACE", "OTHER")
OUTCOMES = ("NO INJURY / DRIVE AWAY", "INJURY AND / OR TOW DUE TO CRASH")
DAMAGE = ("$500 OR LESS", "$501 - $1,500", "OVER $1,500")
CAUSES = ("UNABLE TO DETERMINE", "FAILING TO YIELD RIGHT-OF-WAY",
          "FOLLOWING TOO CLOSELY", "IMPROPER OVERTAKING/PASSING",
          "DISREGARDING TRAFFIC SIGNALS")
INJURY_LEVELS = ("NO INDICATION OF INJURY", "REPORTED, NOT EVIDENT",
                 "NON-INCAPACITATING INJURY", "INCAPACITATING INJURY", "FATAL")
BAD_DATES = ("not a date", "2021-07-04 10:00:00", "13/40/2021 01:00:00 PM")

KEPT_CATEGORIES = ("school", "hospital", "traffic_signals", "crossing")
STRAY_CATEGORIES = ("parking_entrance", "bus_stop")
SIGNAL_VALUES = ("signal", " TRAFFIC_lights ", "pedestrian_crossing",
                 "emergency", "ramp_meter", "level_crossing", "bridge",
                 "blinker")
CROSSING_VALUES = ("marked;unmarked", "Zebra", "uncontrolled", "marked",
                   "unmarked", "traffic_signals")
SIGNAL_CLASSES = ("bridge", "emergency", "level_crossing",
                  "pedestrian_crossing", "ramp_meter", "signal",
                  "traffic_lights")
CROSSING_CLASSES = ("uncontrolled", "marked", "unmarked", "zebra", "pelican",
                    "puffin", "toucan")
QUOTED_NAMES = ('St. Mary\'s "Upper" School', 'say "stop"',
                "O'Hare Gate", 'the "old" bridge')

COUNT_COLUMNS = (
    "category_hospital", "category_school", "crossing_combinations",
    "crossing_marked", "crossing_uncontrolled", "crossing_unknown",
    "crossing_unmarked", "crossing_zebra", "traffic_signals_bridge",
    "traffic_signals_emergency", "traffic_signals_level_crossing",
    "traffic_signals_pedestrian_crossing", "traffic_signals_ramp_meter",
    "traffic_signals_signal", "traffic_signals_traffic_lights",
    "traffic_signals_unknown",
)

#: Dimension name -> the fields of a merged row's key record that form the
#: dimension's natural key in the engine's star schema.
DIM_FIELDS = {
    "dim_date": ("date",),
    "dim_location": ("lat", "lng", "intersection", "city", "county", "state",
                     "postcode"),
    "dim_weather": ("weather",),
    "dim_lighting": ("lighting",),
    "dim_road_condition": ("surface", "defect"),
    "dim_accident_type": ("crash_type", "trafficway", "alignment", "injury"),
    "dim_primary_cause": ("cause",),
    "dim_infrastructure": ("bbox",),
}


def label(lat_bin: float, lng_bin: float) -> str:
    return f"bbox_{lat_bin}_{lng_bin}"


def floor_bin(x: float, width: float = 0.5) -> float:
    return math.floor(x / width) * width


def _tag_class(category: str, tags: str) -> str | None:
    """The pivot column a kept node counts under: the reference's
    literal_eval -> strip/lower -> class mapping, written out here as the
    oracle for the summary stage."""
    if category in ("school", "hospital"):
        return f"category_{category}"
    try:
        d = ast.literal_eval(tags)
    except (ValueError, SyntaxError):
        d = {}
    d = d if isinstance(d, dict) else {}
    raw = str(d.get(category, "unknown")).strip().lower()
    if category == "traffic_signals":
        cls = raw if raw in SIGNAL_CLASSES else "unknown"
    elif ";" in raw:
        cls = "combinations"
    else:
        cls = raw if raw in CROSSING_CLASSES else "unknown"
    col = f"{category}_{cls}"
    return col if col in COUNT_COLUMNS else None


def _node_tags(rng: random.Random, category: str) -> str:
    if category == "traffic_signals":
        tags = {"highway": "traffic_signals"}
        if rng.random() < 0.9:
            tags["traffic_signals"] = rng.choice(SIGNAL_VALUES)
    elif category == "crossing":
        tags = {"highway": "crossing"}
        if rng.random() < 0.9:
            tags["crossing"] = rng.choice(CROSSING_VALUES)
    else:
        tags = {"amenity": category}
    if rng.random() < 0.02:
        tags["name"] = rng.choice(QUOTED_NAMES)
    text = repr(tags)
    if rng.random() < 0.001:
        text = text[: len(text) // 2]  # truncated cell: parses to {}
    return text


def _write_csv(path: str, header, rows) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(seed: int, scale: float, out_dir: str) -> dict:
    """Write the inputs under ``out_dir``, save the manifest (geocode rows,
    planted edge-case counts, expected pipeline answers) as
    ``expected.json``, and return it with the input paths added."""
    rng = random.Random(seed)
    n_acc = max(100, round(REFERENCE_ACCIDENTS * scale))
    n_nodes = max(36 * 20, round(REFERENCE_OSM_NODES * scale))
    os.makedirs(os.path.join(out_dir, "osm"), exist_ok=True)
    bboxes = [(la, ln) for la in LAT_BINS for ln in LNG_BINS]

    geocode = []
    for i, (la, ln) in enumerate(bboxes):
        city = "unknown" if i % 9 == 4 else f"City{i}"
        postcode = "" if i % 7 == 3 else f"{33000 + i}"
        geocode.append((label(la, ln), city, f"County{i % 12}",
                        "Florida" if i % 2 else "Georgia", postcode))
    geo = {
        g[0]: tuple(v if v.strip() else None for v in g[1:]) for g in geocode
    }

    # OSM nodes: every bbox gets kept nodes, so every bbox has a summary row.
    counts = {label(la, ln): dict.fromkeys(COUNT_COLUMNS, 0) for la, ln in bboxes}
    planted = {"stray_nodes": 0, "quoted_tags": 0}
    per_box = [n_nodes // 36 + (1 if i < n_nodes % 36 else 0) for i in range(36)]
    for (la, ln), n in zip(bboxes, per_box):
        rows = []
        for _ in range(n):
            r = rng.random()
            if r < 0.03:
                cat = rng.choice(STRAY_CATEGORIES)
            else:
                cat = KEPT_CATEGORIES[min(3, int((r - 0.03) / 0.97 * 4))]
            tags = _node_tags(rng, cat)
            planted["quoted_tags"] += '"' in tags
            if cat in KEPT_CATEGORIES:
                col = _tag_class(cat, tags)
                if col:
                    counts[label(la, ln)][col] += 1
            else:
                planted["stray_nodes"] += 1
            rows.append((f"{la}_{ln}", cat,
                         f"{la + rng.random() * 0.5:.7f}",
                         f"{ln + rng.random() * 0.5:.7f}", tags))
        _write_csv(os.path.join(out_dir, "osm", f"{label(la, ln)}_osm.csv"),
                   ("bbox_label", "category", "latitude", "longitude", "tags"),
                   rows)

    # Accidents.
    start = datetime(2018, 1, 1)
    span_s = int((datetime(2025, 12, 31) - start).total_seconds())
    acc_rows, keyed = [], []
    planted.update(bad_dates=0, outside_bbox=0, negative_lng_floor=0,
                   unknown_weather=0, unknown_defect=0, injuries_over_10=0,
                   injuries_null=0, bad_dates_inside_bbox=0)
    for i in range(1, n_acc + 1):
        if rng.random() < 0.05:  # outside every bbox
            lat_u = rng.randrange(3_000_000, 3_100_000)
            lng_u = rng.randrange(-9_000_000, -8_900_000)
        else:
            la, ln = rng.choice(bboxes)
            lat_u = round(la * 100_000) + rng.randrange(0, 50_000)
            lng_u = round(ln * 100_000) + rng.randrange(0, 50_000)
        lat, lng = lat_u / 100_000, lng_u / 100_000
        when = start + timedelta(seconds=rng.randrange(span_s))
        bad = rng.random() < 0.001
        crash_date = rng.choice(BAD_DATES) if bad else when.strftime("%m/%d/%Y %I:%M:%S %p")
        weather = rng.choice(WEATHER)
        defect = rng.choice(DEFECTS)
        r = rng.random()
        injury = None if r < 0.02 else (
            f" {rng.choice(INJURY_LEVELS)} " if r < 0.04 else rng.choice(INJURY_LEVELS)
        )
        r = rng.random()
        total = None if r < 0.01 else float(rng.randrange(11, 20)) if r < 0.02 else float(rng.randrange(0, 4))
        row = (
            i, crash_date, rng.choice(DEVICES), weather, rng.choice(LIGHTING),
            rng.choice(CRASH_TYPES), rng.choice(TRAFFICWAYS),
            rng.choice(ALIGNMENTS), rng.choice(SURFACES), defect,
            rng.choice(OUTCOMES), rng.choice("YN"), rng.choice(DAMAGE),
            rng.choice(CAUSES), rng.randrange(1, 5), injury, total,
            float(rng.randrange(0, 2)), float(rng.randrange(0, 2)),
            float(rng.randrange(0, 3)), float(rng.randrange(0, 3)),
            float(rng.randrange(0, 4)), when.hour, when.isoweekday() % 7 + 1,
            when.month, lat, lng,
        )
        acc_rows.append(row)
        planted["bad_dates"] += bad
        planted["unknown_weather"] += weather == "UNKNOWN"
        planted["unknown_defect"] += defect == "UNKNOWN"
        planted["injuries_over_10"] += total is not None and total > 10
        planted["injuries_null"] += total is None
        lat_bin, lng_bin = floor_bin(lat), floor_bin(lng)
        planted["negative_lng_floor"] += lng < 0 and lng_bin != math.trunc(lng / 0.5) * 0.5
        box = label(lat_bin, lng_bin)
        if box not in geo:
            planted["outside_bbox"] += 1
            continue
        planted["bad_dates_inside_bbox"] += bad
        keyed.append({
            "date": None if bad else when,
            "lat": lat_u, "lng": lng_u, "intersection": row[11],
            "city": geo[box][0], "county": geo[box][1], "state": geo[box][2],
            "postcode": geo[box][3],
            "weather": "OTHER" if weather == "UNKNOWN" else weather,
            "lighting": row[4],
            "surface": row[8], "defect": "OTHER" if defect == "UNKNOWN" else defect,
            "crash_type": row[5], "trafficway": row[6], "alignment": row[7],
            "injury": injury, "cause": row[13], "bbox": box,
        })
    accidents_csv = os.path.join(out_dir, "accidents.csv")
    _write_csv(accidents_csv, ACCIDENT_COLUMNS, acc_rows)

    report = {
        "ingest_rows": n_acc,
        "ingest_parse_failures": planted["bad_dates"],
        "summary_rows": 36,
        "final_rows": len(keyed),
        "fact_rows": len(keyed),
        "fk_violations": {},
    }
    for dim, fields in DIM_FIELDS.items():
        tuples = [tuple(k[f] for f in fields) for k in keyed]
        report[f"{dim}_rows"] = len(set(tuples))
        report["fk_violations"][dim] = sum(any(v is None for v in t) for t in tuples)
    manifest = {
        "seed": seed,
        "scale": scale,
        "geocode": geocode,
        "planted": planted,
        "report": report,
        "summary_counts": counts,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return {
        **manifest,
        "accidents_csv": accidents_csv,
        "osm_glob": os.path.join(out_dir, "osm", "bbox_*_osm.csv"),
    }
