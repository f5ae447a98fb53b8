"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` and returns plain
Python data (or writes files) plus the tallies the correctness checks
compare against. The program under test only ever sees the files.

GBFS shapes follow FIXTURES.md Part A (status snapshots, station
information with tariffs as a JSON document, trip CSV) and include its
edge cases: duplicate ``(station_id, last_reported)`` pairs, stations
missing from the information feed, reported != computed trip durations,
a zero-capacity station and trips with NULL ``started_at``/``ended_at``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

BASE_EPOCH = 1_735_689_600  # 2025-01-01T00:00:00Z
UTC = dt.timezone.utc


# ---------------------------------------------------------------- GBFS


class GbfsFeed:
    """A seeded bike-share system: stations, their info document, and a
    status state that advances one snapshot per ``step_s`` feed seconds."""

    def __init__(self, rng: np.random.Generator, n_stations: int,
                 step_s: int = 60):
        self.rng = rng
        self.step_s = step_s
        self.ids = [f"st{i:04d}" for i in range(n_stations)]
        self.capacity = rng.integers(8, 40, n_stations)
        self.zero_station = int(rng.integers(0, n_stations))
        self.capacity[self.zero_station] = 0  # bikes + docks = 0
        n_missing = max(1, n_stations // 40)
        missing = rng.choice(
            [i for i in range(n_stations) if i != self.zero_station],
            n_missing, replace=False,
        )
        self.in_info = np.ones(n_stations, bool)
        self.in_info[missing] = False  # in status, absent from information
        self.bikes = (rng.random(n_stations) * (self.capacity + 1)).astype(int)
        self.last_reported = np.full(n_stations, BASE_EPOCH - 30, np.int64)
        self.lat = 59.9 + rng.random(n_stations) * 0.1
        self.lon = 10.7 + rng.random(n_stations) * 0.1
        self.virtual = rng.random(n_stations) < 0.05
        self.minute = 0
        # tallies over every snapshot emitted so far
        self.renting = 0
        self.rows = 0

    def snapshot(self) -> dict:
        """Next status snapshot (GBFS station_status.json)."""
        rng = self.rng
        n = len(self.ids)
        feed = BASE_EPOCH + self.step_s * self.minute
        self.minute += 1
        # ~15% of stations do not report this step: they keep their old
        # last_reported, giving duplicate (station_id, last_reported) pairs
        fresh = rng.random(n) >= 0.15
        self.last_reported = np.where(
            fresh, feed - rng.integers(0, min(50, self.step_s), n),
            self.last_reported
        )
        step = rng.integers(-2, 3, n)
        self.bikes = np.clip(self.bikes + step, 0, self.capacity)
        installed = rng.random(n) >= 0.02
        renting = installed & (rng.random(n) >= 0.05)
        returning = installed & (rng.random(n) >= 0.05)
        stations = []
        for i, sid in enumerate(self.ids):
            b = int(self.bikes[i])
            stations.append({
                "station_id": sid,
                "num_bikes_available": b,
                "vehicle_types_available": [
                    {"vehicle_type_id": "bike", "count": b}
                ],
                "num_docks_available": int(self.capacity[i]) - b,
                "is_installed": bool(installed[i]),
                "is_renting": bool(renting[i]),
                "is_returning": bool(returning[i]),
                "last_reported": int(self.last_reported[i]),
            })
        self.renting += int(renting.sum())
        self.rows += n
        return {
            "last_updated": feed,
            "ttl": 60,
            "version": "2.3",
            "data": {"stations": stations},
        }

    @property
    def last_feed_epoch(self) -> int:
        return BASE_EPOCH + self.step_s * (self.minute - 1)

    def information(self) -> dict:
        """GBFS station_information.json with a tariffs array (one tariff
        carries a non-numeric price: exercises safe_cast -> NULL)."""
        stations = [
            {
                "station_id": sid,
                "name": f"Station {i}",
                "lat": round(float(self.lat[i]), 6),
                "lon": round(float(self.lon[i]), 6),
                "address": f"{i} Main St",
                "cross_street": f"{i % 17} Cross St",
                "capacity": int(self.capacity[i]),
                "is_virtual_station": "true" if self.virtual[i] else "false",
                "rental_uris": {
                    "android": f"app://android/{i}",
                    "ios": f"app://ios/{i}",
                    "web": f"https://bikes.example/{i}",
                },
            }
            for i, sid in enumerate(self.ids)
            if self.in_info[i]
        ]
        tariffs = [
            {"tariff_id": "single", "name": "Single trip", "cost_per_hour": "30.0",
             "currency": "NOK", "duration_minutes": "60"},
            {"tariff_id": "day", "name": "Day pass", "cost_per_hour": "15.0",
             "currency": "NOK", "duration_minutes": "1440"},
            {"tariff_id": "season", "name": "Season pass",
             "cost_per_hour": "not-a-number", "currency": "NOK",
             "duration_minutes": "45"},
        ]
        return {
            "last_updated": BASE_EPOCH,
            "ttl": 3600,
            "version": "2.3",
            "data": {"stations": stations, "tariffs": tariffs},
        }


def _ts(epoch_us: int) -> str:
    t = dt.datetime.fromtimestamp(epoch_us / 1e6, tz=UTC)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f") + "+00:00"


TRIP_HEADER = (
    "started_at,ended_at,duration,start_station_id,start_station_name,"
    "start_station_description,start_station_latitude,"
    "start_station_longitude,end_station_id,end_station_name,"
    "end_station_description,end_station_latitude,end_station_longitude"
)


def trip_csv(rng: np.random.Generator, feed: GbfsFeed, n_trips: int,
             span_s: int) -> tuple[str, dict]:
    """Trip CSV text plus its tallies: valid (non-NULL timestamp) trips and
    how many of them report a duration != ended_at - started_at."""
    n = len(feed.ids)
    start = BASE_EPOCH * 1_000_000 + rng.integers(0, span_s * 1_000_000, n_trips)
    dur = rng.integers(120, 3600, n_trips)
    reported = dur.copy()
    mism = rng.random(n_trips) < 0.1
    reported[mism] += rng.integers(1, 30, int(mism.sum()))
    null_ts = rng.random(n_trips) < 0.02
    src = rng.integers(0, n, n_trips)
    dst = rng.integers(0, n, n_trips)
    lines = [TRIP_HEADER]
    for k in range(n_trips):
        s, e = int(src[k]), int(dst[k])
        st = int(start[k])
        en = st + int(dur[k]) * 1_000_000
        started = "" if null_ts[k] and k % 2 == 0 else _ts(st)
        ended = "" if null_ts[k] and k % 2 == 1 else _ts(en)
        lines.append(
            f"{started},{ended},{int(reported[k])},{feed.ids[s]},Station {s},,"
            f"{feed.lat[s]:.6f},{feed.lon[s]:.6f},{feed.ids[e]},Station {e},,"
            f"{feed.lat[e]:.6f},{feed.lon[e]:.6f}"
        )
    valid = ~null_ts
    tally = {"trips": int(valid.sum()), "mismatched": int((valid & mism).sum())}
    return "\n".join(lines) + "\n", tally


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, separators=(",", ":"))


def land_gbfs_history(rng: np.random.Generator, root: str, n_stations: int,
                      minutes: int, n_trips: int) -> tuple[GbfsFeed, dict]:
    """Write a GBFS landing area under ``root``: hourly status files (a JSON
    array of one-minute snapshots each), the station-information document
    and a trip CSV. Returns the feed (to keep ticking) and the tallies."""
    feed = GbfsFeed(rng, n_stations)
    hour: list[dict] = []
    for m in range(minutes):
        hour.append(feed.snapshot())
        if len(hour) == 60 or m == minutes - 1:
            write_json(f"{root}/status/hour={m // 60:04d}.json", hour)
            hour = []
    write_json(f"{root}/information/station_information.json", feed.information())
    csv, trips = trip_csv(rng, feed, n_trips, minutes * 60)
    os.makedirs(f"{root}/trips", exist_ok=True)
    with open(f"{root}/trips/trips.csv", "w") as fh:
        fh.write(csv)
    tally = {
        "status_rows": feed.rows,
        "stations": len(feed.ids),
        "info_stations": int(feed.in_info.sum()),
        "snapshots": minutes,
        "renting": feed.renting,
        "last_feed_epoch": feed.last_feed_epoch,
        "tariffs": 3,
        **trips,
    }
    return feed, tally
