"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the program is a pure function of the seed:
location names and coordinates, the run-date calendar (including the run
date that arrives late), which fetched payload is corrupted, and the bronze
backlog files. The same seed gives byte-identical inputs.

Generation here stands in for the external weather API, so its cost is
never part of a reported timing.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

from meteomatics_e2e_data_pipeline_spark.sources.fixtures import (
    FLOAT_PARAMS, SUN_PARAMS)

# Payload shape of the reference API (the fixture generator's): the hourly
# parameters over run_date-1d .. run_date+7d inclusive (193 readings each)
# and the daily sun parameters (9 readings each).
READINGS_PER_FILE = len(FLOAT_PARAMS) * 193 + len(SUN_PARAMS) * 9  # 1562

_ISO = "%Y-%m-%dT%H:%M:%SZ"
# Fixed mtime so the scan's file_modification_time is seed-determined too.
_FIXED_MTIME = 1_700_000_000
_SYLLABLES = ("ka", "lo", "mi", "ra", "ten", "vo", "si", "dar", "nu", "pel",
              "to", "ber", "an", "gi", "sul", "wen")


def _word(rng: random.Random, parts: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(parts))


def locations(rng: random.Random, n: int) -> list[tuple[str, str, float, float]]:
    """``n`` distinct (city, country, lat, lon) slugs named from ``rng``."""
    out, seen = [], set()
    while len(out) < n:
        city, country = _word(rng, 3), _word(rng, 2)
        if city in seen:
            continue
        seen.add(city)
        out.append((city, country, round(rng.uniform(-60, 60), 4),
                    round(rng.uniform(-180, 180), 4)))
    return out


@dataclass(frozen=True)
class StarInputs:
    """What the daily star workload feeds the program.

    ``arrivals[i]`` is the run dates ingested by cycle ``i``. The first
    cycle's day is followed, in the same cycle, by the day before it, whose
    payloads arrive late and out of order. ``corrupt`` is the (run date,
    location name) whose fetched payload loses ``weather.data``.
    """
    location_names: tuple[str, ...]
    geocodes: dict
    arrivals: tuple[tuple[str, ...], ...]
    as_of: date
    corrupt: tuple[str, str]


def star_inputs(seed: int, n_locations: int, n_days: int = 30) -> StarInputs:
    rng = random.Random(f"star-{seed}")
    locs = locations(rng, n_locations)
    names = tuple(f"{c.capitalize()}, {co.capitalize()}"
                  for c, co, _, _ in locs)
    geocodes = {name: (lat, lon)
                for name, (_, _, lat, lon) in zip(names, locs)}
    first = date(2024, 1, 1) + timedelta(days=rng.randrange(0, 600))
    days = [(first + timedelta(days=i)).isoformat() for i in range(n_days)]
    arrivals = ((days[1], days[0]),) + tuple((d,) for d in days[2:])
    corrupt = (rng.choice(days[:2]), rng.choice(names))
    return StarInputs(names, geocodes, arrivals,
                      as_of=first + timedelta(days=1), corrupt=corrupt)


class CorruptingFetcher:
    """Wraps a fetcher; the payload named by ``target`` loses
    ``weather.data``, which the ingest validation must quarantine."""

    def __init__(self, inner, target: tuple[str, str, str]):
        self.inner, self.target = inner, target
        self.injected = 0

    def __call__(self, city, country, lat, lon, run_date):
        payload = self.inner(city, country, lat, lon, run_date)
        if (city, country, run_date) == self.target:
            self.injected += 1
            payload = dict(payload)
            payload["weather"] = {k: v for k, v in payload["weather"].items()
                                  if k != "data"}
        return payload


def _payload(rng: random.Random, city: str, country: str, lat: float,
             lon: float, run_date: str) -> dict:
    run = datetime.strptime(run_date, "%Y-%m-%d")
    start = run - timedelta(days=1)
    hours = [(start + timedelta(hours=h)).strftime(_ISO) for h in range(193)]
    days = [start + timedelta(days=d) for d in range(9)]
    data = []
    for param, (lo, hi) in FLOAT_PARAMS.items():
        readings = [{"date": t, "value": f"{lo + rng.random() * (hi - lo):.2f}"}
                    for t in hours]
        data.append({"parameter": param,
                     "coordinates": [{"lat": lat, "lon": lon,
                                      "dates": readings}]})
    for param in SUN_PARAMS:
        base = 5.0 if param.startswith("sunrise") else 17.5
        readings = [{"date": d.strftime(_ISO),
                     "value": (d + timedelta(minutes=round(
                         (base + rng.random() * 2.5) * 60))).strftime(_ISO)}
                    for d in days]
        data.append({"parameter": param,
                     "coordinates": [{"lat": lat, "lon": lon,
                                      "dates": readings}]})
    return {"city": city, "country": country, "latitude": lat,
            "longitude": lon,
            "weather": {"version": "3.0", "user": "bench_user",
                        "dateGenerated": f"{run_date}T02:00:00Z",
                        "status": "OK", "data": data}}


def write_backlog(seed: int, bronze_root: str, n_locations: int,
                  n_dates: int = 4) -> list[str]:
    """Write a catch-up backlog of ``n_locations × n_dates`` raw files in
    the bronze lake layout; returns the paths in write order."""
    rng = random.Random(f"backlog-{seed}")
    first = date(2024, 1, 1) + timedelta(days=rng.randrange(0, 600))
    dates = [(first + timedelta(days=i)).isoformat() for i in range(n_dates)]
    paths = []
    for city, country, lat, lon in locations(rng, n_locations):
        d = os.path.join(bronze_root, country, city)
        os.makedirs(d, exist_ok=True)
        for run_date in dates:
            p = os.path.join(d, f"weather_raw_{city}_{country}_{run_date}.json")
            with open(p, "w", encoding="utf-8") as f:
                json.dump(_payload(rng, city, country, lat, lon, run_date), f)
            os.utime(p, (_FIXED_MTIME, _FIXED_MTIME))
            paths.append(p)
    return paths
