"""consult_serving: the consumer's workload.

Set-up bulk-loads a seed-chosen week through the whole pipeline (bronze,
silver, gold demand, clustering and gaps).  The loop then sends a
seed-generated mix of `consult_gaps_topk(polygon, k)` and
`consult_clustering_by_polygon(polygon, start, end)` requests.  Each
request touches tiny data, so driver work dominates: the lakehouse read
path, Catalyst and job scheduling.  Every answer is checked against a
pure-Python evaluation over the silver and gold tables collected once
in set-up.
"""

from __future__ import annotations

import datetime
import os
import sys
import time
from decimal import ROUND_HALF_UP, Decimal
from zoneinfo import ZoneInfo

import registry
from daily import input_bytes
from pyspark.sql import functions as F
from stats import geomean, median, tail
from streams import consult_requests, inside, serve_window
from tracing import Tracer, dir_bytes, duration, timed_collect
from urban_mobility_data_lakehouse_spark.pipeline.fixtures import write_fixtures
from urban_mobility_data_lakehouse_spark.pipeline.mobility import (
    MADRID_TZ,
    MobilityPipeline,
)

KINDS = ("gaps", "clusters")


def setup(spark, work: str, seed: int) -> dict:
    """The whole pipeline over the seed's week, in one bulk load, then the
    tables the oracle needs, collected once."""
    days = serve_window(seed)
    fixtures = write_fixtures(os.path.join(work, "fixtures"))
    p = MobilityPipeline(spark, os.path.join(work, "lake"))
    p.create_schemas()
    p.ingest_bronze(fixtures)
    p.build_silver_dimensions()
    p.ingest_bronze_trips(fixtures["trips_dir"], days)
    p.process_days(days)
    p.refresh_gold_daily_demand()
    p.build_gold_clustering()
    p.build_gold_gaps()
    read = lambda layer, table: p.lake.read(spark, layer, table)  # noqa: E731
    tables = {
        "zones": [
            (r[0], r[1], r[2]) for r in read("silver", "dim_zones")
            .select("zone_id", "centroid_lon", "centroid_lat").collect()
        ],
        "gaps": [r.asDict() for r in read("gold", "infrastructure_gaps").collect()],
        "clusters": {
            r[0]: r[1] for r in read("gold", "dim_cluster_assignments")
            .select("date", "cluster_id").collect()
        },
        # period as epoch seconds, so its Madrid day and hour are worked
        # out here, independently of any session time zone
        "fact": [
            (r[0], str(r[1]), r[2], r[3]) for r in read("silver", "fact_mobility")
            .select("origin_zone_id", "partition_date",
                    F.col("period").cast("long"), "trips").collect()
        ],
    }
    # A serving process answers many requests, so the loop measures a
    # warm one: the consult paths' first-use costs (code generation, the
    # JVM's compilation of the planner and code generator) are paid here.
    # A cold mix ran about 40% slower than the third one of a session,
    # and its wall varied more from run to run.
    for req in consult_requests(seed, days, warmup=True):
        builder(p, req)().collect()
    return {"pipeline": p, "days": days, "tables": tables,
            "input_bytes": input_bytes(fixtures, days)}


# -- the oracle --------------------------------------------------------------


def expected_gaps(tables: dict, polygon, k: int) -> list[dict]:
    zones = {z for z, lon, lat in tables["zones"] if inside(polygon, lon, lat)}
    rows = [
        r for r in tables["gaps"]
        if r["org_zone_id"] in zones and r["mismatch_ratio"] is not None
    ]
    rows.sort(key=lambda r: (r["mismatch_ratio"], r["org_zone_id"],
                             r["dest_zone_id"]))
    return rows[:k]


def expected_clusters(tables: dict, polygon, start: str, end: str) -> list[tuple]:
    """(cluster_id, hour, avg_trips) ordered by cluster and hour: per
    cluster and Madrid hour, Σtrips over the distinct days, rounded half
    up to two decimals."""
    tz = ZoneInfo(MADRID_TZ)
    zones = {z for z, lon, lat in tables["zones"] if inside(polygon, lon, lat)}
    acc: dict[tuple[int, int], list] = {}
    for zone, pdate, epoch, trips in tables["fact"]:
        if zone not in zones or not start <= pdate <= end:
            continue
        local = datetime.datetime.fromtimestamp(epoch, tz)
        cluster = tables["clusters"].get(local.date())
        if cluster is None:
            continue
        a = acc.setdefault((cluster, local.hour), [Decimal(0), set()])
        a[0] += Decimal(repr(trips)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        a[1].add(local.date())
    return [
        (c, h, float(Decimal(repr(float(s) / len(ds)))
                     .quantize(Decimal("0.01"), ROUND_HALF_UP)))
        for (c, h), (s, ds) in sorted(acc.items())
    ]


def expected(tables: dict, req: dict):
    if req["kind"] == "gaps":
        return expected_gaps(tables, req["polygon"], req["k"])
    return expected_clusters(tables, req["polygon"], req["start"], req["end"])


def answer(rows: list, kind: str):
    if kind == "gaps":
        return [r.asDict() for r in rows]
    return [(r["cluster_id"], r["hour"], r["avg_trips"]) for r in rows]


def builder(p: MobilityPipeline, req: dict):
    if req["kind"] == "gaps":
        return lambda: p.consult_gaps_topk(req["polygon"], req["k"])
    return lambda: p.consult_clustering_by_polygon(
        req["polygon"], req["start"], req["end"]
    )


# -- the loop ----------------------------------------------------------------


def run(spark, state: dict, work: str, seed: int, seconds: float,
        tracer: Tracer | None) -> dict:
    p, tables = state["pipeline"], state["tables"]
    reqs = consult_requests(seed, state["days"])
    want = [expected(tables, r) for r in reqs]
    walls: list[float] = []
    pass_walls: list[float] = []
    # traced run: each request's traced wall over its untraced wall
    overheads: list[float] = []
    answers: list[tuple[int, list]] = []
    errors: list[str] = []
    failed = rows_total = 0
    start = time.perf_counter()
    while not pass_walls or (
        tracer is None and time.perf_counter() - start < seconds
    ):
        t_pass = time.perf_counter()
        for i, req in enumerate(reqs):
            name = f"consult.{req['kind']}"
            build = builder(p, req)
            try:
                if tracer is not None and i % 2 == 0:
                    # untraced before traced on even requests, after on
                    # odd ones, so neither order is favoured
                    plain = timed_collect(spark, None, name, build)[2]
                _, rows, wall = timed_collect(
                    spark, tracer, name, build, f"req{len(walls)}",
                    consult=req["kind"],
                )
                if tracer is not None and i % 2 == 1:
                    plain = timed_collect(spark, None, name, build)[2]
                if tracer is not None:
                    overheads.append(wall / plain)
            except Exception as e:  # counted, reported, and the loop goes on
                failed += 1
                errors.append(f"request {i} ({req['kind']}): "
                              f"{type(e).__name__}: {e}"[:500])
                continue
            walls.append(wall)
            answers.append((i, rows))
        pass_walls.append(time.perf_counter() - t_pass)
    for i, rows in answers:  # checked outside the timed loop
        rows_total += len(rows)
        if answer(rows, reqs[i]["kind"]) != want[i]:
            failed += 1
            errors.append(f"request {i} ({reqs[i]['kind']}): wrong answer")
    if not walls:
        raise RuntimeError("every consult request failed: " + "; ".join(errors))
    print("# request_s " + " ".join(f"{reqs[i]['kind'][0]}{w:.4f}"
                                    for (i, _), w in zip(answers, walls)),
          file=sys.stderr)
    out = {
        "attempted": len(reqs) * len(pass_walls), "failed": failed,
        "errors": errors,
        "e2e": {
            "pass_s": median(pass_walls),
            "op_geomean_s": geomean(walls),
            "rows_per_s": rows_total / sum(walls),
            "bytes_per_input_byte":
                dir_bytes(p.lake.root)[0] / state["input_bytes"],
        },
        "artifact": {"days": state["days"], "requests": reqs,
                     "passes_s": pass_walls, "request_s": walls,
                     "tail": tail(walls)},
    }
    if tracer is not None:
        out["per_layer"] = _layers(tracer)
        out["per_layer"]["trace.overhead"] = median(overheads)
        analyst = registry.traced_pass(spark, tracer, seed)
        out["attempted"] += analyst["attempted"]
        out["failed"] += analyst["failed"]
        out["errors"] += analyst["errors"]
        out["per_layer"].update(analyst["per_layer"])
        out["artifact"].update(registry_order=analyst["order"],
                               layers=analyst["layers"])
    return out


def _layers(tracer: Tracer) -> dict:
    spans = [s for s in tracer.find("query") if s.get("consult")]
    m: dict[str, float] = {}
    for kind in KINDS:
        m[f"pipeline.consult_{kind}_s_p50"] = median(
            [duration(s) for s in spans if s["consult"] == kind]
        )
    reads = [r for s in spans for r in tracer.find("read", s)]
    m.update({
        "lakehouse.read_s_p50": median([duration(r) for r in reads]),
        "lakehouse.reads_per_request": len(reads) / len(spans),
        "catalyst.consult.plan_s_p50": median([s["plan_s"] for s in spans]),
        "spark.consult.execute_s_p50": median([s["execute_s"] for s in spans]),
        "spark.consult.jobs_per_request":
            sum(s["jobs"] for s in spans) / len(spans),
    })
    return m
