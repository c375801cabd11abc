"""The analyst's registry queries, measured layer by layer.

The traced run of consult_serving ends with one pass over the 17
bench-flagged registry queries in a seed-shuffled order, timing builder,
planning and execution of each, and checking each result.  The pass runs
after the serving loop, so the session is warm and no query pays the
session's first-use costs for the others.  The registry is not an
end-to-end workload: at sf0.01 its pass walls were not steady enough
on the reference host to bear the benchmark's bounds (perfbench/README.md).
"""

from __future__ import annotations

import hashlib

import bench
from stats import median
from streams import registry_order
from tracing import Tracer, timed_collect
from urban_mobility_data_lakehouse_spark.queries import (
    DRIVER_SF_DIR,
    bench_queries,
)
from urban_mobility_data_lakehouse_spark.queries.functions_suite import prepare

# The registry's oracle scale factor.  At sf0.01 a query's wall is mostly
# fixed per-query work (planning, code generation, job scheduling), and a
# pass takes about 30 s on 4 cores against about 50 s at sf0.1.
SF_DIR = DRIVER_SF_DIR
EXPECTED_ROWS = bench.EXPECTED_ROWS[0.01]

# Columns stamped with current_timestamp(): left out of result digests.
CLOCK_COLUMNS = frozenset({"processed_at", "check_timestamp"})

# sha256 of the sorted result rows, for the queries whose output repeats
# exactly from run to run (the others are checked by row count only).
DIGESTS: dict[str, str] = {
    "ann_suite":
        "1a2368d36de338e4a167773138c0a85fcd879ae3a9e166330e3247e04ca7a80d",
    "asof_join_clicks":
        "5598eaf262540d85923a306e22bddb96268fce64eb5c4f255d4507dd189ff1bc",
    "bucketed_fact_join":
        "4204e6f50f6c0d74b55a8a531264cf3b7352c90fd5f60dfd1217e8cb0c6030c5",
    "doc_profile":
        "39df854df824e0178dae325018fd0723d40d2f06d3e8f0e071d35fb6679f0a89",
    "gravity_gaps":
        "dd02f41b27187c87eaf6fce55b1f4e7319171a920b803133f8f2f9b2e1ab5966",
    "hourly_demand":
        "17daf7fb7d3336d4f08a847202c0695ec9a2278d699073762328d63134fff3a9",
    "knn_ivf":
        "648498f8bb71457301f2e76f6d24e1571834da7a481572809a1ba12060807491",
    "near_dup_pairs":
        "b020c7fb0bfa2a18ecbde8e05b27f49377c55c41ff6ec0e47bf2d18e3353c20b",
    "pricing_summary":
        "567456251cc119d0e9df1dac2c1af7920134bcb660dfe043e4f12bd77b8b3d5c",
    "roleplay_nations":
        "780a0a49d5196baf85ff820e7cd3593831ac6f065f080b4e175bc5f5d68ba843",
    "running_totals":
        "fa04ac57dfc7445167a1ab5a71804db76a8bcad94afdbfa22df9461f8491b51c",
    "sales_by_nation":
        "22a868524f05ee93ed9295735815e945a725fcb5f145c3d0ee1d415c1992b9f0",
    "salted_agg":
        "ac38a40eddd971cbe7486e601edbb542530c871a6617e8e86d8aa5d518adda43",
    "sessionize_events":
        "1ead3b4bb1f4585069c703f1459e0403173fdc363b8633abea13fa41f5b12992",
    "silver_batch_audit":
        "d091e751b54592eef44bb543e58fcc9afbf762e0ad70eaf98d524a105594eb4b",
    "simhash_candidates":
        "4f2b9d986b8392c75d3534d24fd9ba0ad3a2e8eecccf2c23d24c75309c376fe5",
    "typical_day_clusters":
        "a50db8dbe90024b4da6950e888547db3e5d66e5766216df7ba599dda35a03d57",
}

LAYERS = ("builder_s", "plan_s", "execute_s")


def digest(columns: list[str], rows: list) -> str:
    keep = [i for i, c in enumerate(columns) if c not in CLOCK_COLUMNS]
    lines = sorted(repr(tuple(r[i] for i in keep)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check(name: str, columns: list[str], rows: list) -> str | None:
    """None when the result is right, else what is wrong with it."""
    if len(rows) != EXPECTED_ROWS[name]:
        return f"{name}: {len(rows)} rows, expected {EXPECTED_ROWS[name]}"
    want = DIGESTS.get(name)
    if want is not None and digest(columns, rows) != want:
        return f"{name}: result digest differs from the pinned one"
    return None


def traced_pass(spark, tracer: Tracer, seed: int) -> dict:
    """Build the bucketed layout the queries attach to (as bench.py's
    warm-up does), then run one traced, checked pass."""
    prepare(spark, SF_DIR)
    specs = bench_queries()
    order = registry_order(list(specs), seed)
    failed = 0
    errors: list[str] = []
    for q in order:
        try:
            columns, rows, _ = timed_collect(
                spark, tracer, q, lambda: specs[q].builder(spark, SF_DIR),
                "registry", registry=True,
            )
        except Exception as e:  # counted, reported, and the pass goes on
            failed += 1
            errors.append(f"{q}: {type(e).__name__}: {e}"[:500])
            continue
        problem = check(q, columns, rows)
        if problem:
            failed += 1
            errors.append(problem)
    per_layer, table = _layers(tracer)
    return {"attempted": len(order), "failed": failed, "errors": errors,
            "per_layer": per_layer, "order": order, "layers": table}


def _layers(tracer: Tracer) -> tuple[dict, dict]:
    spans = [s for s in tracer.find("query")
             if s.get("registry") and "execute_s" in s]
    metrics: dict[str, float] = {}
    table: dict[str, dict] = {}
    for q in sorted({s["name"] for s in spans}):
        mine = [s for s in spans if s["name"] == q]
        row = {k: median([s[k] for s in mine]) for k in LAYERS + ("jobs",)}
        row["dominant_layer"] = max(LAYERS, key=lambda k: row[k])
        table[q] = row
        metrics[f"queries.{q}.builder_s"] = row["builder_s"]
        metrics[f"catalyst.{q}.plan_s"] = row["plan_s"]
        metrics[f"spark.{q}.execute_s"] = row["execute_s"]
        metrics[f"spark.{q}.jobs"] = row["jobs"]
    for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"):
        metrics[f"spark.{k}"] = sum(s[k] for s in spans)
    return metrics, table
