"""Seeded trip-event generator and an independent daily-KPI oracle.

The generator reproduces the shape of the reference trip data (FIXTURES.md
A1/A2/A5) without needing the reference CSVs:

- 10-hex-character ``trip_id``s, unique per generated set;
- ~10.6% of end events carry NULL ``rate_code``/``passenger_count``/
  ``payment_type``/``trip_type`` (531/4999 in the reference);
- ~2.3% of drop-offs roll past midnight (114/4999), while ``date`` stays
  the pickup day;
- heavy-tailed ``trip_distance`` (log-normal body, rare huge outliers);
- orphan ends, start-only trips, duplicate deliveries and ends that
  arrive before their starts.

Every event carries an arrival ``slot`` (a float tick number).  Writers
sort by slot: the backfill chunks each stream into files in slot order,
the live generator lands tick ``floor(slot)`` at its due time.  A trip's
end normally trails its start by one tick.

The oracle is the reference notebook's batch shape in pandas: distinct
starts inner-join distinct ends on ``trip_id``, grouped by pickup date.
It shares no code with the engine.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

FIRST_DAY = dt.datetime(2024, 5, 25)

NULL_END_SHARE = 531 / 4999
PAST_MIDNIGHT_SHARE = 114 / 4999
ORPHAN_END_SHARE = 0.01
START_ONLY_SHARE = 0.03
DUPLICATE_SHARE = 0.02
END_FIRST_SHARE = 0.05

_FMT = "%Y-%m-%d %H:%M:%S"


@dataclass
class TripSet:
    """Generated wire events (dicts in the producer's JSON shape, each
    with a private ``slot`` key the writers strip) and the ids of the
    trips that must end up Completed."""

    starts: list[dict]
    ends: list[dict]
    completed_ids: set[str]

    @property
    def n_events(self) -> int:
        return len(self.starts) + len(self.ends)


def _ts(base: np.ndarray) -> list[str]:
    return [(FIRST_DAY + dt.timedelta(seconds=int(s))).strftime(_FMT) for s in base]


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate(seed: int, n_trips: int, trips_per_tick: float, days: int = 3) -> TripSet:
    """``n_trips`` trips spread over ``days`` pickup days; trip ``i``
    starts at slot ``i / trips_per_tick``."""
    rng = np.random.default_rng(seed)
    ids = np.unique(rng.integers(0, 16**10, size=int(n_trips * 1.05) + 16))
    ids = rng.permutation(ids)[:n_trips]
    if len(ids) < n_trips:
        raise ValueError("trip-id draw collided too often; raise the headroom")
    trip_id = np.array([f"{v:010x}" for v in ids])

    day = rng.integers(0, days, n_trips)
    duration = np.clip(rng.lognormal(np.log(900), 0.5, n_trips), 120, 3 * 3600).astype(int)
    tod = (rng.random(n_trips) * (86_400 - duration - 1)).astype(int)
    cross = rng.random(n_trips) < PAST_MIDNIGHT_SHARE
    # a crossing trip starts late enough that its drop-off lands after 00:00
    tod[cross] = 86_400 - 1 - (rng.random(cross.sum()) * (duration[cross] - 1)).astype(int)
    pickup = day * 86_400 + tod
    dropoff = pickup + duration
    est_dropoff = pickup + (duration * rng.uniform(0.8, 1.2, n_trips)).astype(int)

    distance = _money(rng.lognormal(0.6, 0.9, n_trips))
    huge = rng.random(n_trips) < 0.0005
    distance[huge] = _money(rng.uniform(1_000, 91_152.89, huge.sum()))
    fare = _money(3.0 + 2.5 * np.minimum(distance, 60) + rng.uniform(0, 5, n_trips))
    est_fare = _money(np.clip(fare * rng.uniform(0.85, 1.15, n_trips), 8.6, 100.0))
    tip = _money(fare * rng.choice([0.0, 0.1, 0.15, 0.2], n_trips))
    null_end = rng.random(n_trips) < NULL_END_SHARE

    kind = rng.random(n_trips)
    orphan = kind < ORPHAN_END_SHARE
    start_only = (kind >= ORPHAN_END_SHARE) & (kind < ORPHAN_END_SHARE + START_ONLY_SHARE)
    slot_s = np.arange(n_trips) / trips_per_tick
    slot_e = slot_s + np.where(rng.random(n_trips) < END_FIRST_SHARE, -1.0, 1.0)
    slot_e = np.maximum(slot_e, 0.0)

    pickup_s, est_s, drop_s = _ts(pickup), _ts(est_dropoff), _ts(dropoff)
    pu = rng.integers(1, 266, n_trips)
    do = rng.integers(1, 266, n_trips)
    vendor = rng.integers(1, 3, n_trips)
    rate = rng.integers(1, 6, n_trips).astype(float)
    pax = rng.integers(0, 9, n_trips).astype(float)
    pay = rng.integers(1, 5, n_trips).astype(float)
    ttype = rng.integers(1, 3, n_trips).astype(float)

    starts, ends = [], []
    for i in range(n_trips):
        if not orphan[i]:
            starts.append({
                "trip_id": trip_id[i],
                "pickup_location_id": int(pu[i]),
                "dropoff_location_id": int(do[i]),
                "vendor_id": int(vendor[i]),
                "pickup_datetime": pickup_s[i],
                "estimated_dropoff_datetime": est_s[i],
                "estimated_fare_amount": float(est_fare[i]),
                "slot": float(slot_s[i]),
            })
        if not start_only[i]:
            nul = bool(null_end[i])
            ends.append({
                "dropoff_datetime": drop_s[i],
                "rate_code": None if nul else float(rate[i]),
                "passenger_count": None if nul else float(pax[i]),
                "trip_distance": float(distance[i]),
                "fare_amount": float(fare[i]),
                "tip_amount": float(tip[i]),
                "payment_type": None if nul else float(pay[i]),
                "trip_type": None if nul else float(ttype[i]),
                "trip_id": trip_id[i],
                "slot": float(slot_e[i]),
            })
    # at-least-once delivery: a copy of the same event, at most one tick
    # later (well inside the correlator's redelivery window)
    for stream in (starts, ends):
        picks = np.flatnonzero(rng.random(len(stream)) < DUPLICATE_SHARE)
        lag = rng.integers(0, 2, len(picks))
        stream.extend({**stream[j], "slot": stream[j]["slot"] + lag[k]} for k, j in enumerate(picks))
        stream.sort(key=lambda e: e["slot"])
    completed = set(trip_id[~orphan & ~start_only].tolist())
    return TripSet(starts, ends, completed)


def wire(events: list[dict]) -> list[dict]:
    """Events without the generator's private ``slot`` key."""
    return [{k: v for k, v in e.items() if k != "slot"} for e in events]


def kpi_oracle(ts: TripSet) -> dict[str, dict]:
    """Per pickup date: ``count_trips`` and fares in integer cents
    (``total``, ``max``, ``min``) over Completed trips."""
    s = pd.DataFrame(wire(ts.starts)).drop_duplicates("trip_id")
    e = pd.DataFrame(wire(ts.ends)).drop_duplicates("trip_id")
    j = s.merge(e, on="trip_id", how="inner")
    j["date"] = j["pickup_datetime"].str.slice(0, 10)
    j["cents"] = (j["fare_amount"] * 100).round().astype("int64")
    g = j.groupby("date")["cents"].agg(["count", "sum", "max", "min"])
    return {
        d: {"count_trips": int(r["count"]), "total": int(r["sum"]),
            "max": int(r["max"]), "min": int(r["min"])}
        for d, r in g.iterrows()
    }


def kpi_mismatches(docs: dict[str, dict], oracle: dict[str, dict]) -> tuple[int, list[str]]:
    """Compare daily KPI documents (``{date: metrics}``) with the oracle.

    Returns (trips unaccounted for, descriptions of every mismatch).  Fares
    compare in integer cents; the average must agree with total/count to
    within half a cent.
    """
    missing, problems = 0, []
    for d in sorted(set(docs) | set(oracle)):
        want, got = oracle.get(d), docs.get(d)
        if want is None or got is None:
            missing += (want or {}).get("count_trips", 0)
            problems.append(f"{d}: document {'missing' if got is None else 'unexpected'}")
            continue
        have = {
            "count_trips": int(got["count_trips"]),
            "total": round(got["total_fare"] * 100),
            "max": round(got["max_fare"] * 100),
            "min": round(got["min_fare"] * 100),
        }
        missing += abs(have["count_trips"] - want["count_trips"])
        if have != want:
            problems.append(f"{d}: got {have}, want {want}")
        elif abs(got["average_fare"] * 100 - want["total"] / want["count_trips"]) > 0.5:
            problems.append(f"{d}: average {got['average_fare']} != {want['total']}/{want['count_trips']} cents")
    return missing, problems
