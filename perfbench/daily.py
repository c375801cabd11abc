"""daily_ingest: the pipeline owner's workload.

The production commit loop, one batch per delivered day:
`ingest_bronze_trips` → `process_days` → `audit_batch` →
`refresh_gold_daily_demand`.  Set-up loads the stream's first day, so
the gold refresh's full bootstrap build is done before the loop and
every measured batch takes the incremental change-feed path.  History
grows with every batch, and each commit invalidates the lakehouse's
per-commit-dir schema memo and Spark's file listing cache, so the loop
runs with those caches missing.
"""

from __future__ import annotations

import os
import sys
import time

from stats import geomean, median, quarter_growth, tail
from streams import daily_stream, expected_daily_demand
from tracing import Tracer, dir_bytes, duration, job_group
from urban_mobility_data_lakehouse_spark.pipeline.fixtures import write_fixtures
from urban_mobility_data_lakehouse_spark.pipeline.mobility import MobilityPipeline

STAGES = {
    "bronze": lambda p, fx, d: p.ingest_bronze_trips(fx["trips_dir"], [d]),
    "silver": lambda p, fx, d: p.process_days([d]),
    "audit": lambda p, fx, d: p.audit_batch([d]),
    "gold_refresh": lambda p, fx, d: p.refresh_gold_daily_demand(),
}


def setup(spark, work: str, seed: int) -> dict:
    """Fixture CSVs, schemas, bronze statics and silver dimensions, then
    the stream's first day through bronze, silver and the gold refresh's
    bootstrap build: everything before the first incremental batch."""
    first, dates = daily_stream(seed)
    fixtures = write_fixtures(os.path.join(work, "fixtures"))
    pipeline = MobilityPipeline(spark, os.path.join(work, "lake"))
    pipeline.create_schemas()
    pipeline.ingest_bronze(fixtures)
    pipeline.build_silver_dimensions()
    for stage in ("bronze", "silver", "gold_refresh"):
        STAGES[stage](pipeline, fixtures, first)
    return {"fixtures": fixtures, "pipeline": pipeline,
            "first": first, "dates": dates}


def _committed_rows(lake, since: int) -> int:
    """Rows of the silver fact files committed after version `since`,
    from the commit log's file statistics."""
    return sum(
        f["rows"]
        for e in lake.snapshots("silver", "fact_mobility")[since + 1:]
        for f in e.get("files") or ()
    )


def input_bytes(fixtures: dict, dates) -> int:
    """Bytes of the distinct fixture CSVs a lake ingested."""
    statics = [v for k, v in fixtures.items() if k != "trips_dir"]
    trips = [
        os.path.join(fixtures["trips_dir"], f"{d}_Viajes_municipios.csv")
        for d in dates
    ]
    return sum(os.path.getsize(f) for f in statics + trips)


def check(spark, pipeline, dates: set[str]) -> list[str]:
    """Compare gold.daily_zone_demand with the fixture arithmetic: every
    loaded day, per origin zone, row count and Σtrips."""
    got = {
        (str(r["partition_date"]).replace("-", ""), r["origin_zone_id"]):
        (r["n_rows"], r["total_trips"])
        for r in pipeline.lake.read(spark, "gold", "daily_zone_demand").collect()
    }
    wrong = {d for d, _ in got if d not in dates}  # days never delivered
    for d in sorted(dates):
        want = {(d, z): (n, float(t))
                for z, (n, t) in expected_daily_demand(d).items()}
        if {k: v for k, v in got.items() if k[0] == d} != want:
            wrong.add(d)
    return sorted(wrong)


def run(spark, state: dict, work: str, seed: int, seconds: float,
        tracer: Tracer | None) -> dict:
    pipeline, fixtures = state["pipeline"], state["fixtures"]
    lake = pipeline.lake
    bytes_at_start = dir_bytes(lake.root)[0]
    version_at_start = len(lake.snapshots("silver", "fact_mobility")) - 1
    dates = list(state["dates"])
    stage_s: dict[str, list[float]] = {k: [] for k in STAGES}
    batch_walls: list[float] = []
    batches: list[dict] = []
    errors: list[str] = []
    raised: set[int] = set()
    start = time.perf_counter()
    i = 0
    while i < len(dates) or time.perf_counter() - start < seconds:
        if i == len(dates):  # time left: one more late re-delivery
            dates.append(dates[i % len(state["dates"])])
        d = dates[i]
        span = tracer.open("daily.batch", f"batch{i}", kind="batch", date=d) \
            if tracer else None
        t0 = time.perf_counter()
        try:
            for stage, fn in STAGES.items():
                if tracer is None:
                    ts = time.perf_counter()
                    fn(pipeline, fixtures, d)
                    stage_s[stage].append(time.perf_counter() - ts)
                    continue
                with tracer.span(f"pipeline.{stage}", kind="stage") as s, \
                        job_group(spark, tracer, s):
                    ts = time.perf_counter()
                    fn(pipeline, fixtures, d)
                    stage_s[stage].append(time.perf_counter() - ts)
        except Exception as e:  # counted, reported, and the stream goes on
            raised.add(i)
            errors.append(f"batch {i} ({d}): {type(e).__name__}: {e}"[:500])
        batch_walls.append(time.perf_counter() - t0)
        if span is not None:
            tracer.close(span)
            batches.append(span)
        i += 1
    measured = time.perf_counter() - start
    print("# batch_s " + " ".join(f"{w:.4f}" for w in batch_walls),
          file=sys.stderr)

    loaded = set(dates) | {state["first"]}
    wrong_days = check(spark, pipeline, loaded)
    errors += [f"gold.daily_zone_demand wrong for {d}" for d in wrong_days]
    failed = sum(
        1 for j, d in enumerate(dates) if j in raised or d in wrong_days
    )
    lake_bytes, data_files, log_bytes = dir_bytes(lake.root)
    rows_committed = _committed_rows(lake, version_at_start)
    e2e = {
        "pass_s": measured,
        "op_geomean_s": geomean(batch_walls),
        "rows_per_s": rows_committed / measured,
        "bytes_per_input_byte": lake_bytes / input_bytes(fixtures, loaded),
    }
    out = {
        "attempted": len(dates), "failed": failed, "errors": errors,
        "e2e": e2e,
        "artifact": {"first": state["first"], "dates": dates,
                     "batch_s": batch_walls, "stage_s": stage_s,
                     "rows_committed": rows_committed},
    }
    if tracer is not None:
        out["per_layer"], out["artifact"]["series"] = _layers(
            tracer, batches, stage_s, batch_walls,
        )
        out["per_layer"].update({
            "lakehouse.data_files": data_files,
            "lakehouse.log_bytes": log_bytes,
            "lakehouse.bytes_written": lake_bytes - bytes_at_start,
            # the traced stream cannot be rerun untraced on the same lake
            # state, so this is the stream wall over that wall less the
            # tracer's own time (spans, job groups, status-tracker reads)
            "trace.overhead": measured / (measured - tracer.self_s),
        })
    return out


def _layers(tracer: Tracer, batches: list[dict], stage_s: dict,
            batch_walls: list[float]) -> tuple[dict, dict]:
    series = []
    for idx, b in enumerate(batches):
        stages = [s for s in tracer.find("stage") if s["parent"] == b["id"]]
        series.append({
            "batch": idx,
            "date": b["date"],
            "wall_s": duration(b),
            "stage_s": {s["name"].split(".", 1)[1]: duration(s) for s in stages},
            "jobs": sum(s.get("jobs", 0) for s in stages),
            "tasks": sum(s.get("tasks", 0) for s in stages),
            "stages": sum(s.get("stages", 0) for s in stages),
            "shuffle_write_bytes":
                sum(s.get("shuffle_write_bytes", 0) for s in stages),
            "spill_bytes": sum(s.get("spill_bytes", 0) for s in stages),
            "failed_tasks": sum(s.get("failed_tasks", 0) for s in stages),
            "commit_s": [duration(c) for c in tracer.find("commit", b)],
            "reads": len(tracer.find("read", b)),
        })
    # only calls inside a batch: the answer check after the stream reads
    # the lake too
    commits = [c for b in batches for c in tracer.find("commit", b)]
    reads = [r for b in batches for r in tracer.find("read", b)]
    commit_series = [median(b["commit_s"]) for b in series if b["commit_s"]]
    m = {
        f"pipeline.{k}_s_p50": median(v) for k, v in stage_s.items()
    }
    m.update({
        f"pipeline.{k}_growth": quarter_growth(v) for k, v in stage_s.items() if v
    })
    m["pipeline.batch_growth"] = quarter_growth(batch_walls)
    m["spark.tasks_per_batch"] = median([b["tasks"] for b in series])
    m["spark.jobs_per_batch"] = median([b["jobs"] for b in series])
    for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"):
        m[f"spark.{k}"] = sum(b[k] for b in series)
    m.update({
        "lakehouse.commits": len(commits),
        "lakehouse.commit_s_p50": median([duration(c) for c in commits]),
        "lakehouse.commit_growth":
            quarter_growth(commit_series) if commit_series else 0.0,
        "lakehouse.read_changes_s_p50":
            median([duration(c) for b in batches
                    for c in tracer.find("read_changes", b)]),
        "lakehouse.read_s_p50": median([duration(r) for r in reads]),
        "lakehouse.reads_per_batch": len(reads) / len(series),
    })
    # the highest percentile each sample supports (None when fewer than
    # ten samples lie beyond the median)
    tails = {
        "commit_s": tail([duration(c) for c in commits]),
        "read_s": tail([duration(r) for r in reads]),
    }
    return m, {"batches": series, "tails": tails}
