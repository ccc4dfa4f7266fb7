"""Seeded synthetic SIRI-SM snapshot stream with the exact counts the ETL
must produce from it.

A fleet of vehicles drives rides on Zipf-skewed routes.  Every vehicle
reports once a minute; its stop ``Order`` advances every few minutes and,
past the route's last stop, the vehicle rolls over to a new journey on a
freshly drawn route.  A few percent of visits are malformed in one of three
ways the engine dead-letters (missing ``VehicleLocation``, uncastable
``Bearing``, missing ``OperatorRef``), some malformed visits are emitted
twice, some vehicles repeat their previous minute's report unchanged, and a
few valid visits omit an optional field (which the engine defaults to -1).

The expected counts follow the engine's documented rules
(``operators/parse.py``): a present-but-uncastable optional field
invalidates the visit, an absent one does not; a dimension key's novelty is
attributed to the first snapshot that contains it.  Valid visits carry a
vehicle-unique longitude, so observation keys never repeat inside one
snapshot and ``validate_snapshots`` has nothing to report but "no errors".
"""

from __future__ import annotations

import bisect
import datetime
import itertools
import json
import os
import random
from dataclasses import dataclass, field

DIMS = ("siri_route", "siri_stop", "siri_ride", "siri_ride_stop")
MALFORMED_KINDS = ("no_vehicle_location", "bad_bearing", "no_operator_ref")

START = datetime.datetime(2024, 3, 4, 4, 0)  # snapshot ids are UTC minutes
LOCAL_OFFSET = datetime.timedelta(hours=3)  # feed timestamps carry +03:00

ROUTES = 150
STOPS = 4000  # stop codes the routes draw from
ZIPF_S = 1.1  # route popularity skew
MALFORMED_RATE = 0.03  # share of reports that are malformed
DUPLICATE_RATE = 0.25  # share of malformed reports emitted twice
STALE_RATE = 0.02  # share of reports repeating last minute's unchanged
ABSENT_OPTIONAL_RATE = 0.01  # share of valid reports without Bearing or Velocity


@dataclass
class SnapshotCounts:
    """What loading one snapshot must produce."""

    snapshot_id: str
    valid: int = 0
    dead: int = 0
    added: dict[str, int] = field(default_factory=lambda: dict.fromkeys(DIMS, 0))

    @property
    def date(self) -> datetime.date:
        return datetime.datetime.strptime(self.snapshot_id, "%Y/%m/%d/%H/%M").date()


@dataclass
class _Route:
    operator_ref: int
    line_ref: int
    stops: list[int]


@dataclass
class _Vehicle:
    ref: str
    lon_base: float
    second: int
    route: int = 0
    journey: str = ""
    scheduled: datetime.datetime = START
    order: int = 1
    minutes_left: int = 1
    last_visit: dict | None = None


def _ts(dt: datetime.datetime) -> str:
    return (dt + LOCAL_OFFSET).strftime("%Y-%m-%dT%H:%M:%S+03:00")


def snapshot_id_of(dt: datetime.datetime) -> str:
    return dt.strftime("%Y/%m/%d/%H/%M")


class SiriFeed:
    """An endless minute-by-minute snapshot stream; ``next()`` yields
    ``(snapshot_id, document, SnapshotCounts)``.

    The stream is a pure function of its arguments: the same seed gives the
    same documents and counts.  ``distinct`` holds every dimension key seen
    so far, so ``len(distinct[dim])`` is the expected row count of that dim
    table after loading every snapshot yielded so far, in order.
    """

    def __init__(
        self, seed: int, vehicles: int = 1000, start: datetime.datetime = START
    ):
        if vehicles > 10_000:
            raise ValueError("vehicle-unique longitudes need vehicles <= 10000")
        self.rng = random.Random(seed)
        self.now = start
        rng = self.rng
        self.routes = [
            _Route(
                operator_ref=1 + r % 31,
                line_ref=100 + r,
                stops=rng.sample(range(10_000, 10_000 + STOPS), rng.randint(15, 40)),
            )
            for r in range(ROUTES)
        ]
        self._route_cum = list(
            itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(ROUTES))
        )
        self._journeys = itertools.count(50_000_000 + rng.randrange(1_000_000))
        self.fleet = [
            _Vehicle(
                ref=str(8_000_000 + v),
                lon_base=34.0 + v * 1e-4,
                second=rng.randrange(60),
            )
            for v in range(vehicles)
        ]
        for veh in self.fleet:
            self._new_journey(veh)
            # spread the fleet along its routes so rollovers are staggered
            veh.order = rng.randint(1, len(self.routes[veh.route].stops))
        self.distinct: dict[str, set] = {d: set() for d in DIMS}

    def _new_journey(self, veh: _Vehicle) -> None:
        rng = self.rng
        veh.route = bisect.bisect_left(
            self._route_cum, rng.random() * self._route_cum[-1]
        )
        veh.journey = str(next(self._journeys))
        veh.scheduled = self.now
        veh.order = 1
        veh.minutes_left = rng.randint(2, 4)

    def _advance(self, veh: _Vehicle) -> None:
        veh.minutes_left -= 1
        if veh.minutes_left > 0:
            return
        veh.order += 1
        veh.minutes_left = self.rng.randint(2, 4)
        if veh.order > len(self.routes[veh.route].stops):
            self._new_journey(veh)

    def _visit(self, veh: _Vehicle) -> dict:
        rng = self.rng
        route = self.routes[veh.route]
        mvj = {
            "LineRef": str(route.line_ref),
            "FramedVehicleJourneyRef": {
                "DataFrameRef": (veh.scheduled + LOCAL_OFFSET).strftime("%Y-%m-%d"),
                "DatedVehicleJourneyRef": veh.journey,
            },
            "OperatorRef": str(route.operator_ref),
            "OriginAimedDepartureTime": _ts(veh.scheduled),
            "VehicleLocation": {
                "Longitude": f"{veh.lon_base + rng.randrange(100) * 1e-6:.6f}",
                "Latitude": f"{31.5 + rng.randrange(500_000) * 1e-6:.6f}",
            },
            "Bearing": str(rng.randrange(360)),
            "Velocity": str(rng.randrange(80)),
            "VehicleRef": veh.ref,
            "MonitoredCall": {
                "StopPointRef": str(route.stops[veh.order - 1]),
                "Order": str(veh.order),
                "DistanceFromStop": str(rng.randrange(20_000)),
            },
        }
        if rng.random() < ABSENT_OPTIONAL_RATE:
            del mvj[rng.choice(("Bearing", "Velocity"))]
        return {
            "RecordedAtTime": _ts(self.now + datetime.timedelta(seconds=veh.second)),
            "MonitoredVehicleJourney": mvj,
        }

    def _malform(self, visit: dict) -> dict:
        mvj = visit["MonitoredVehicleJourney"]
        kind = self.rng.choice(MALFORMED_KINDS)
        if kind == "no_vehicle_location":
            del mvj["VehicleLocation"]
        elif kind == "bad_bearing":
            mvj["Bearing"] = "n/a"
        else:
            del mvj["OperatorRef"]
        return visit

    def _count_valid(self, visit: dict, counts: SnapshotCounts) -> None:
        mvj = visit["MonitoredVehicleJourney"]
        journey = mvj["FramedVehicleJourneyRef"]
        route = (mvj["OperatorRef"], mvj["LineRef"])
        stop = mvj["MonitoredCall"]["StopPointRef"]
        ride = (
            route,
            journey["DataFrameRef"] + "-" + journey["DatedVehicleJourneyRef"],
            mvj["VehicleRef"],
        )
        keys = {
            "siri_route": route,
            "siri_stop": stop,
            "siri_ride": ride,
            "siri_ride_stop": (ride, stop, mvj["MonitoredCall"]["Order"]),
        }
        for dim, key in keys.items():
            if key not in self.distinct[dim]:
                self.distinct[dim].add(key)
                counts.added[dim] += 1
        counts.valid += 1

    def next(self) -> tuple[str, dict, SnapshotCounts]:
        rng = self.rng
        sid = snapshot_id_of(self.now)
        counts = SnapshotCounts(sid)
        visits = []
        for veh in self.fleet:
            if veh.last_visit is not None and rng.random() < STALE_RATE:
                visit = veh.last_visit  # an unchanged repeat of last minute
            else:
                visit = self._visit(veh)
            if rng.random() < MALFORMED_RATE:
                bad = self._malform(json.loads(json.dumps(visit)))
                copies = 2 if rng.random() < DUPLICATE_RATE else 1
                visits.extend([bad] * copies)
                counts.dead += copies
            else:
                visits.append(visit)
                veh.last_visit = visit
                self._count_valid(visit, counts)
            self._advance(veh)
        stamp = _ts(self.now + datetime.timedelta(seconds=45))
        document = {
            "Siri": {
                "ServiceDelivery": {
                    "ResponseTimestamp": stamp,
                    "ProducerRef": "perfbench",
                    "ResponseMessageIdentifier": f"perfbench-{sid}",
                    "RequestMessageRef": sid,
                    "Status": "true",
                    "StopMonitoringDelivery": [
                        {
                            "ResponseTimestamp": stamp,
                            "Status": "true",
                            "MonitoredStopVisit": visits,
                        }
                    ],
                }
            }
        }
        self.now += datetime.timedelta(minutes=1)
        return sid, document, counts


def land(root: str, snapshot_id: str, document: dict) -> str:
    """Write a snapshot where the engine looks for it
    (``<root>/YYYY/MM/DD/HH/MM.json``); the file appears atomically."""
    path = os.path.join(root, snapshot_id + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(document, separators=(",", ":")))  # json.dump: 6x slower here
    os.replace(tmp, path)
    return path
