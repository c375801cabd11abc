"""Seed-driven inputs of the workloads, and the values a correct program
must produce from them, computed in pure Python.

The program under test receives only what these functions generate; the
same seed always generates the same inputs.
"""

from __future__ import annotations

import random
from decimal import Decimal

from urban_mobility_data_lakehouse_spark.pipeline.fixtures import (
    DATES,
    N_ZONES,
    hourly_volume,
)

# daily_ingest stream shape: a seed-chosen window of 1 + NEW_DAYS
# consecutive fixture days.  Set-up loads the first day, so the gold
# refresh's full bootstrap build happens there; the measured stream is
# then NEW_DAYS new days in calendar order and REDELIVERIES late
# re-deliveries of days already loaded, all incremental batches.  Sized
# so one stream takes about 20 s on 4 cores, to keep a full set of
# benchmark runs within its time budget.
NEW_DAYS = 2
REDELIVERIES = 1

# consult_serving: set-up bulk-loads a seed-chosen window of SERVE_DAYS
# consecutive fixture days (a week always holds all three day types the
# clustering separates), then warms the serving path with a warm-up
# mix.  A mix is GAPS_REQUESTS consult_gaps_topk and CLUSTER_REQUESTS
# consult_clustering_by_polygon requests in a seed-shuffled order.  The
# counts are fixed, so every run does the same amount of work.
SERVE_DAYS = 7
GAPS_REQUESTS = 16
CLUSTER_REQUESTS = 8
TOPK = (5, 10)

# The fixture zone grid: zone i (0-based) has a 0.5° square geometry at
# lon -8 + i % 4, lat 37 + i // 4, so its centroid sits at
# (-7.75 + col, 37.25 + row).  The last zone has no geometry.
GRID_COLS = 4
GRID_ROWS = 3


def registry_order(names: list[str], seed: int) -> list[str]:
    """The registry queries in a seed-shuffled order."""
    return random.Random(f"registry:{seed}").sample(sorted(names), len(names))


def daily_stream(seed: int) -> tuple[str, list[str]]:
    """(set-up day, batch dates) of one daily_ingest run: a seed-chosen
    window of 1 + NEW_DAYS consecutive fixture days, whose first day is
    loaded in set-up, then seed-chosen re-deliveries of loaded days."""
    rng = random.Random(f"daily:{seed}")
    start = rng.randrange(len(DATES) - NEW_DAYS)
    window = DATES[start:start + NEW_DAYS + 1]
    return window[0], window[1:] + [
        rng.choice(window) for _ in range(REDELIVERIES)
    ]


def serve_window(seed: int) -> list[str]:
    """The fixture days consult_serving bulk-loads."""
    start = random.Random(f"serve:{seed}").randrange(
        len(DATES) - SERVE_DAYS + 1
    )
    return DATES[start:start + SERVE_DAYS]


def grid_polygon(c0: int, c1: int, r0: int, r1: int) -> list[tuple[float, float]]:
    """A rectangle around the centroids of grid columns c0..c1 and rows
    r0..r1, with its edges 0.2° clear of every centroid."""
    x0, x1 = -8.0 + c0 + 0.05, -8.0 + c1 + 0.45
    y0, y1 = 37.0 + r0 + 0.05, 37.0 + r1 + 0.45
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def inside(polygon: list[tuple[float, float]], lon, lat) -> bool:
    """Whether (lon, lat) lies inside a grid_polygon rectangle."""
    (x0, y0), (x1, _), (_, y1) = polygon[0], polygon[1], polygon[2]
    return lon is not None and x0 < lon < x1 and y0 < lat < y1


def zones_in(polygon: list[tuple[float, float]]) -> set[int]:
    """zone_ids (1-based) of the fixture grid inside a grid_polygon."""
    return {
        i + 1 for i in range(N_ZONES - 1)  # the last zone has no geometry
        if inside(polygon, -7.75 + i % GRID_COLS, 37.25 + i // GRID_COLS)
    }


def date_range(days: list[str]) -> tuple[str, str]:
    """First and last of `days` as ISO dates."""
    return tuple(f"{d[:4]}-{d[4:6]}-{d[6:]}" for d in (days[0], days[-1]))


def consult_requests(seed: int, days: list[str], warmup: bool = False) -> list[dict]:
    """The measured request mix of a consult_serving run, or its warm-up
    mix, drawn independently.  Every polygon holds at least two zones
    with geometry, so a top-k request always has k answers; every date
    range spans the whole loaded week."""
    rng = random.Random(f"consult:{seed}:{'warmup' if warmup else 'measured'}")

    def polygon():
        while True:
            c0, c1 = sorted(rng.randrange(GRID_COLS) for _ in range(2))
            r0, r1 = sorted(rng.randrange(GRID_ROWS) for _ in range(2))
            p = grid_polygon(c0, c1, r0, r1)
            if len(zones_in(p)) >= 2:
                return p

    start, end = date_range(days)
    reqs = [
        {"kind": "gaps", "polygon": polygon(), "k": TOPK[i % len(TOPK)]}
        for i in range(GAPS_REQUESTS)
    ] + [
        {"kind": "clusters", "polygon": polygon(), "start": start, "end": end}
        for _ in range(CLUSTER_REQUESTS)
    ]
    rng.shuffle(reqs)
    return reqs


def expected_daily_demand(date: str) -> dict[int, tuple[int, Decimal]]:
    """gold.daily_zone_demand for one fixture day, from the fixture
    rules alone: origin zone_id → (n_rows, total_trips).

    The trips CSV holds every (origin, destination) pair outside the
    sparse rule `(o + d) % 3 == 2`, one row per hour; its three dirty
    rows (external origin zone, NULL fecha, invalid date) never reach
    silver.  zone_id is the 1-based rank of the zone code, and every
    volume is exact at two decimals, so Decimal sums compare exactly.
    """
    out: dict[int, tuple[int, Decimal]] = {}
    for o in range(N_ZONES):
        n, total = 0, Decimal(0)
        for d in range(N_ZONES):
            if (o + d) % 3 == 2:
                continue
            for hour in range(24):
                n += 1
                total += Decimal(f"{hourly_volume(date, hour, o, d):.2f}")
        out[o + 1] = (n, total)
    return out
