"""Seeded GTFS-realtime vehicle feeds for the ingest and map_reads
workloads.

Feeds cover spatially disjoint city boxes. About 1 % of vehicle rows
carry out-of-bounds coordinates (quarantined by the pipeline), and some
entities are not vehicles or lack the position or trip sub-messages, so
the decode and flatten paths see the shapes real feeds have. Callers
count valid and invalid rows with `is_invalid` to check the pipeline.
"""

from __future__ import annotations

import random

from transit_feed_etl_spark.sources import gtfs_wire as W

# (name, minx, miny, maxx, maxy): disjoint lon/lat boxes
CITIES = [
    ("sf", -122.52, 37.70, -122.35, 37.83),
    ("nyc", -74.05, 40.60, -73.85, 40.85),
    ("ber", 13.20, 52.40, 13.60, 52.60),
    ("tok", 139.60, 35.55, 139.85, 35.80),
    ("syd", 151.10, -33.95, 151.30, -33.80),
    ("sao", -46.75, -23.65, -46.55, -23.45),
    ("lon", -0.25, 51.45, 0.05, 51.60),
    ("del", 77.05, 28.50, 77.30, 28.75),
]

OUT_OF_BOUNDS_RATE = 0.01
NON_VEHICLE_RATE = 0.02
NO_POSITION_RATE = 0.02
NO_TRIP_RATE = 0.03


def vehicle_rows(rng: random.Random, city: tuple, n: int, feed_id: str):
    """Vehicle dicts for one feed snapshot; None position/trip fields are
    absent on the wire. Returns (rows, non_vehicle_ids)."""
    name, minx, miny, maxx, maxy = city
    rows, non_vehicle = [], []
    for i in range(n):
        eid = f"{feed_id}-e{i}"
        r = rng.random()
        if r < NON_VEHICLE_RATE:
            non_vehicle.append(eid)
            continue
        lon, lat = rng.uniform(minx, maxx), rng.uniform(miny, maxy)
        if rng.random() < OUT_OF_BOUNDS_RATE:
            lat = rng.uniform(91.0, 99.0)
        position = rng.random() >= NO_POSITION_RATE
        trip = rng.random() >= NO_TRIP_RATE
        rows.append({
            "entity_id": eid,
            "vehicle_id": f"{name}-v{i}",
            "lat": lat if position else None,
            "lon": lon if position else None,
            "speed": round(rng.uniform(0, 25), 1) if position else None,
            "bearing": float(rng.randrange(360)) if position else None,
            "trip_id": f"{name}-t{rng.randrange(200)}" if trip else None,
            "route_id": f"{name}-r{rng.randrange(20)}" if trip else None,
            "stop_sequence": rng.randrange(1, 60),
            "status": rng.randrange(3),
        })
    return rows, non_vehicle


def is_invalid(row: dict) -> bool:
    lat, lon = row["lat"], row["lon"]
    return lat is not None and lon is not None and (abs(lat) > 90.0 or abs(lon) > 180.0)


def encode_feed(rows: list[dict], non_vehicle: list[str], header_ts: int) -> bytes:
    body = b"".join(
        W.encode_vehicle_entity(
            r["entity_id"], vehicle_id=r["vehicle_id"], lat=r["lat"], lon=r["lon"],
            speed=r["speed"], bearing=r["bearing"], trip_id=r["trip_id"],
            route_id=r["route_id"], stop_sequence=r["stop_sequence"], status=r["status"],
        )
        for r in rows
    )
    # a FeedEntity with only its id: no vehicle sub-message
    body += b"".join(W.enc_msg(2, W.enc_str(1, eid)) for eid in non_vehicle)
    return W.encode_feed_message(body, header_ts=header_ts)
