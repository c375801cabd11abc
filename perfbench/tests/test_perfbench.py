"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
import stats  # noqa: E402
import streams  # noqa: E402

from urban_mobility_data_lakehouse_spark.pipeline.fixtures import (  # noqa: E402
    ZONE_CODES,
    write_fixtures,
)
from urban_mobility_data_lakehouse_spark.queries import bench_queries  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _printed(units: dict[str, str]) -> dict[str, str]:
    result = {"attempted": 1, "failed": 0}
    line = run.report(result, units, dict.fromkeys(units, 1.0))
    return {k: v["unit"] for k, v in json.loads(line)["metrics"].items()}


def test_printed_metrics_equal_benchmark_json():
    spec = _benchmark_json()
    assert _printed(run.END_TO_END) == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    assert _printed(run.per_layer_units()) == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_setup_metric_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _benchmark_json()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_per_query_metrics_cover_the_bench_registry():
    assert set(run.registry.EXPECTED_ROWS) == set(bench_queries())


def test_registry_order_is_seeded():
    names = list(bench_queries())
    a = streams.registry_order(names, 1)
    assert a == streams.registry_order(names, 1)
    assert a != streams.registry_order(names, 2)
    assert sorted(a) == sorted(names)


def test_daily_stream_is_seeded():
    a = streams.daily_stream(1)
    assert a == streams.daily_stream(1)
    assert a != streams.daily_stream(2)
    first, dates = a
    window = [first] + dates[:streams.NEW_DAYS]
    assert window == sorted(window) and len(set(window)) == len(window)
    # re-deliveries repeat days already loaded
    assert set(dates[streams.NEW_DAYS:]) <= set(window)


def test_consult_requests_are_seeded():
    days = streams.serve_window(1)
    assert days == streams.serve_window(1)
    assert len(days) == streams.SERVE_DAYS
    a = streams.consult_requests(1, days)
    assert a == streams.consult_requests(1, days)
    assert a != streams.consult_requests(2, days)
    kinds = [r["kind"] for r in a]
    assert kinds.count("gaps") == streams.GAPS_REQUESTS
    assert kinds.count("clusters") == streams.CLUSTER_REQUESTS
    # every polygon holds two or more zones, so top-k always has k rows
    assert all(len(streams.zones_in(r["polygon"])) >= 2 for r in a)


def test_grid_polygon_holds_exactly_its_cells():
    assert streams.zones_in(streams.grid_polygon(0, 1, 0, 0)) == {1, 2}
    assert streams.zones_in(streams.grid_polygon(2, 3, 1, 2)) == {7, 8, 11}


def test_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(100)]
    assert stats.percentile(values, 90) == 89.0
    with pytest.raises(ValueError):
        stats.percentile(values[:99], 90)
    assert stats.tail(values)["p"] == 90.0
    assert stats.tail(values[:20])["p"] == 50.0
    assert stats.tail(values[:19]) is None


def test_quarter_growth():
    assert stats.quarter_growth([1.0, 2.0, 3.0, 4.0]) == 4.0
    assert stats.quarter_growth([2.0] * 9) == 1.0


def test_expected_demand_matches_the_fixture_csv(tmp_path):
    """The pure-Python gold expectation agrees with the CSV the pipeline
    ingests, read with the silver rules: trimmed known origin and
    destination codes, the day's own fecha, Spanish decimals."""
    fixtures = write_fixtures(str(tmp_path))
    date = streams.daily_stream(3)[0]
    path = os.path.join(fixtures["trips_dir"], f"{date}_Viajes_municipios.csv")
    got: dict[int, list] = {}
    with open(path, newline="") as f:
        for r in csv.DictReader(f):
            o, d = r["origen"].strip(), r["destino"].strip()
            if r["fecha"] != date or o not in ZONE_CODES or d not in ZONE_CODES:
                continue
            trips = float(r["viajes"].replace(".", "").replace(",", ".")) \
                if "," in r["viajes"] else float(r["viajes"])
            acc = got.setdefault(ZONE_CODES.index(o) + 1, [0, 0.0])
            acc[0] += 1
            acc[1] += trips
    want = streams.expected_daily_demand(date)
    assert {z: (n, float(t)) for z, (n, t) in want.items()} == {
        z: (n, t) for z, (n, t) in got.items()
    }


def test_registry_check_flags_wrong_results():
    name = "pricing_summary"
    rows = [(i,) for i in range(run.registry.EXPECTED_ROWS[name])]
    assert "rows" in run.registry.check(name, ["x"], rows[:-1])
    assert "digest" in run.registry.check(name, ["x"], rows)


def test_digest_ignores_clock_columns():
    a = run.registry.digest(["k", "processed_at"], [(1, "t0"), (2, "t0")])
    b = run.registry.digest(["k", "processed_at"], [(2, "t1"), (1, "t1")])
    assert a == b
    assert a != run.registry.digest(["k", "processed_at"], [(1, "t0")])


def test_consult_oracle_on_a_small_table():
    import datetime

    import consult

    poly = streams.grid_polygon(0, 1, 0, 0)  # zones 1 and 2
    gaps = [
        {"org_zone_id": z, "dest_zone_id": d, "mismatch_ratio": r}
        for z, d, r in [(1, 5, 0.3), (2, 6, 0.1), (3, 7, 0.0), (1, 8, None),
                        (2, 9, 0.3)]
    ]
    zones = [(1, -7.75, 37.25), (2, -6.75, 37.25), (3, -5.75, 37.25),
             (12, None, None)]
    day = datetime.date(2023, 10, 29)  # DST ends: 02:00 local happens twice
    utc0 = int(datetime.datetime(2023, 10, 29, 0, 30,
                                 tzinfo=datetime.timezone.utc).timestamp())
    tables = {
        "zones": zones,
        "gaps": gaps,
        "clusters": {day: 0},
        # 00:30 and 01:30 UTC are both 02:30 in Madrid; zone 3 is outside
        "fact": [(1, "2023-10-29", utc0, 1.0), (2, "2023-10-29", utc0 + 3600, 2.0),
                 (3, "2023-10-29", utc0, 4.0)],
    }
    top = consult.expected_gaps(tables, poly, 2)
    assert [(r["org_zone_id"], r["dest_zone_id"]) for r in top] == [(2, 6), (1, 5)]
    assert consult.expected_clusters(
        tables, poly, "2023-10-29", "2023-10-29") == [(0, 2, 3.0)]
    assert consult.expected_clusters(
        tables, poly, "2023-10-30", "2023-10-31") == []
