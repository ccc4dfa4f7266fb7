"""Tests of the synthetic snapshot generator (pure Python, no Spark).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import siri_gen  # noqa: E402

REQUIRED_INT = ("LineRef", "OperatorRef")
OPTIONAL_INT = ("Bearing", "Velocity")


def _int_or_none(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _is_valid(visit: dict) -> bool:
    """An independent reading of operators/parse.py's validity rule."""
    mvj = visit.get("MonitoredVehicleJourney", {})
    call = mvj.get("MonitoredCall", {})
    loc = mvj.get("VehicleLocation") or {}
    journey = mvj.get("FramedVehicleJourneyRef") or {}
    required = [
        visit.get("RecordedAtTime"),
        mvj.get("OriginAimedDepartureTime"),
        journey.get("DataFrameRef"),
        journey.get("DatedVehicleJourneyRef"),
        loc.get("Longitude"),
        loc.get("Latitude"),
    ]
    if any(v is None for v in required):
        return False
    ints = [mvj.get(k) for k in REQUIRED_INT] + [call.get("Order"), call.get("StopPointRef")]
    if any(_int_or_none(v) is None for v in ints):
        return False
    optional = [mvj.get(k) for k in OPTIONAL_INT] + [call.get("DistanceFromStop")]
    return all(v is None or _int_or_none(v) is not None for v in optional)


def _visits(doc: dict) -> list[dict]:
    return [
        v
        for d in doc["Siri"]["ServiceDelivery"]["StopMonitoringDelivery"]
        for v in d["MonitoredStopVisit"]
    ]


def _stream(seed: int, n: int, **kw):
    feed = siri_gen.SiriFeed(seed, **kw)
    return feed, [feed.next() for _ in range(n)]


def test_same_seed_same_stream():
    _, a = _stream(7, 5, vehicles=50)
    _, b = _stream(7, 5, vehicles=50)
    _, c = _stream(8, 5, vehicles=50)
    assert json.dumps(a, default=str) == json.dumps(b, default=str)
    assert json.dumps(a, default=str) != json.dumps(c, default=str)


def test_counts_follow_the_parse_rules():
    _, snaps = _stream(1, 20, vehicles=200)
    for sid, doc, counts in snaps:
        visits = _visits(doc)
        valid = sum(_is_valid(v) for v in visits)
        assert (counts.valid, counts.dead) == (valid, len(visits) - valid), sid
        assert counts.snapshot_id == sid


def test_malformed_kinds_duplicates_and_defaults_all_occur():
    _, snaps = _stream(2, 30, vehicles=300)
    kinds = collections.Counter()
    dup_snapshots = absent_optional_valid = 0
    for _, doc, _ in snaps:
        visits = _visits(doc)
        bad = [json.dumps(v, sort_keys=True) for v in visits if not _is_valid(v)]
        dup_snapshots += len(bad) != len(set(bad))
        for v in visits:
            mvj = v["MonitoredVehicleJourney"]
            if _is_valid(v):
                absent_optional_valid += any(k not in mvj for k in OPTIONAL_INT)
            elif "VehicleLocation" not in mvj:
                kinds["no_vehicle_location"] += 1
            elif "OperatorRef" not in mvj:
                kinds["no_operator_ref"] += 1
            elif mvj.get("Bearing") == "n/a":
                kinds["bad_bearing"] += 1
    assert set(kinds) == set(siri_gen.MALFORMED_KINDS)
    assert dup_snapshots > 0
    assert absent_optional_valid > 0
    total = sum(c.valid + c.dead for _, _, c in snaps)
    assert 0.01 < sum(c.dead for _, _, c in snaps) / total < 0.08


def test_novelty_goes_to_the_first_snapshot_with_the_key():
    feed, snaps = _stream(3, 40, vehicles=100)
    seen = {d: set() for d in siri_gen.DIMS}
    for _, doc, counts in snaps:
        added = dict.fromkeys(siri_gen.DIMS, 0)
        for v in _visits(doc):
            if not _is_valid(v):
                continue
            mvj = v["MonitoredVehicleJourney"]
            j = mvj["FramedVehicleJourneyRef"]
            route = (mvj["OperatorRef"], mvj["LineRef"])
            ride = (route, j["DataFrameRef"] + "-" + j["DatedVehicleJourneyRef"], mvj["VehicleRef"])
            stop = mvj["MonitoredCall"]["StopPointRef"]
            keys = {
                "siri_route": route,
                "siri_stop": stop,
                "siri_ride": ride,
                "siri_ride_stop": (ride, stop, mvj["MonitoredCall"]["Order"]),
            }
            for dim, key in keys.items():
                if key not in seen[dim]:
                    seen[dim].add(key)
                    added[dim] += 1
        assert added == counts.added
    assert {d: len(s) for d, s in seen.items()} == {
        d: len(s) for d, s in feed.distinct.items()
    }


def test_observation_keys_unique_within_a_snapshot():
    _, snaps = _stream(4, 15, vehicles=500)
    for sid, doc, _ in snaps:
        keys = []
        for v in _visits(doc):
            if _is_valid(v):
                mvj = v["MonitoredVehicleJourney"]
                keys.append(
                    (
                        v["RecordedAtTime"],
                        mvj["VehicleLocation"]["Longitude"],
                        mvj["VehicleLocation"]["Latitude"],
                        mvj.get("Bearing"),
                        mvj.get("Velocity"),
                        mvj["MonitoredCall"]["DistanceFromStop"],
                    )
                )
        assert len(keys) == len(set(keys)), sid


def test_rides_advance_and_roll_over_on_skewed_routes():
    feed, snaps = _stream(5, 90, vehicles=100)
    orders = collections.defaultdict(set)
    journeys = collections.defaultdict(set)
    routes = collections.Counter()
    for _, doc, _ in snaps:
        for v in _visits(doc):
            mvj = v["MonitoredVehicleJourney"]
            orders[mvj["VehicleRef"]].add(mvj["MonitoredCall"]["Order"])
            journeys[mvj["VehicleRef"]].add(mvj["FramedVehicleJourneyRef"]["DatedVehicleJourneyRef"])
            routes[mvj["LineRef"]] += 1
    assert all(len(o) >= 10 for o in orders.values())
    assert sum(len(j) > 1 for j in journeys.values()) > 10
    counts = sorted(routes.values(), reverse=True)
    assert counts[0] > 5 * counts[len(counts) // 2]


def test_land_writes_the_engine_layout(tmp_path):
    _, [(sid, doc, _)] = _stream(6, 1, vehicles=5)
    path = siri_gen.land(str(tmp_path), sid, doc)
    assert path == os.path.join(str(tmp_path), sid + ".json")
    with open(path) as f:
        assert json.load(f) == doc
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
