"""`map_reads` workload: the read side of the same sink and catalog.

Set-up writes a store of several cities over many hours through the
pipeline's own write path (``write_partitioned`` plus
``FileCatalog.append_batch_partitions``, the default non-Geo sink), in
batches that each cover two hours. One client then issues a seeded mix
of map-viewer requests; each request's row count is checked against the
count computed in Python from the generated records.
"""

from __future__ import annotations

import random
import time
from datetime import datetime, timedelta, timezone

from perfbench import feeds
from perfbench.harness import Run, dir_bytes, median_of, parquet_files
from perfbench.layers import layer_metrics

N_CITIES = 4
VEHICLES_PER_CITY = 200
HOURS = 6
HOURS_PER_BATCH = 2
SNAPSHOTS_PER_HOUR = 3
WARMUP_ROUNDS = 1
MIN_ROUNDS = 3
BOX_SHARE = 0.45  # bbox side as a share of the city's side
SCAN_HOURS = 2  # hours per partition-pruned scan
EPOCH = datetime(2024, 3, 1, 0, 0, tzinfo=timezone.utc)
# One round of requests: one of each kind, in a seeded order. The mix is
# not drawn from measured viewer traffic; each kind weighs the same.
ROUND = ("bbox", "latest_in_bbox", "hour_scan", "snapshot", "check", "missing")


def build_rows(seed: int) -> list[tuple]:
    """Valid vehicle rows: (batch_id, ts, city, vehicle_id, lat, lon, ...)."""
    rng = random.Random(seed)
    rows = []
    for hour in range(HOURS):
        for snap in range(SNAPSHOTS_PER_HOUR):
            ts = EPOCH + timedelta(hours=hour, minutes=snap * 60 // SNAPSHOTS_PER_HOUR)
            for city in feeds.CITIES[:N_CITIES]:
                generated, _ = feeds.vehicle_rows(rng, city, VEHICLES_PER_CITY, city[0])
                for r in generated:
                    if feeds.is_invalid(r):
                        continue
                    rows.append((hour // HOURS_PER_BATCH, ts, city[0], r["vehicle_id"],
                                 r["lat"], r["lon"], r["speed"], r["bearing"], r["trip_id"],
                                 r["route_id"], r["stop_sequence"], r["status"]))
    return rows


def in_box(r, box) -> bool:
    minx, miny, maxx, maxy = box
    return r[5] is not None and minx <= r[5] <= maxx and miny <= r[4] <= maxy


class Store:
    def __init__(self, run: Run) -> None:
        from transit_feed_etl_spark.pipeline.catalog import FileCatalog

        self.run = run
        self.root = run.path("store")
        self.rows = build_rows(run.seed)
        self.catalog = FileCatalog(run.spark, run.path("store_catalog"))
        self.snapshots = 0  # snapshot requests cycle through the batches

    def build(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from transit_feed_etl_spark.pipeline.gtfs import (
            VEHICLE_POSITION_SCHEMA,
            validate_positions,
            with_geometry,
            with_time_partitions,
            write_partitioned,
        )

        spark = self.run.spark
        for batch in range(HOURS // HOURS_PER_BATCH):
            recs = [(f"feed_{r[2]}", r[1]) + r[3:] for r in self.rows if r[0] == batch]
            pdf = pd.DataFrame(recs, columns=VEHICLE_POSITION_SCHEMA.fieldNames())
            pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize(None)
            for c in ("current_stop_sequence", "current_status"):
                pdf[c] = pdf[c].astype("int32")
            df = spark.createDataFrame(pdf, VEHICLE_POSITION_SCHEMA)
            good, _ = validate_positions(with_geometry(df))
            good = with_time_partitions(good).cache()
            write_partitioned(good, self.root)
            self.catalog.append_batch_partitions(good, batch, self.root)
            good.unpersist()
        self.total = len(self.rows)
        self.F = F

    def count(self, df) -> int:
        if df is None:
            return 0
        with self.run.recorder.span("spark.action"):
            return df.count()

    # -- requests: each returns (run the request, expected row count) ----

    def request(self, kind: str, rng: random.Random):
        F, cat, spark = self.F, self.catalog, self.run.spark
        if kind in ("bbox", "latest_in_bbox"):
            # a fixed share of a city at a seeded place, so every request
            # returns about the same number of rows
            _, minx, miny, maxx, maxy = rng.choice(feeds.CITIES[:N_CITIES])
            w, h = (maxx - minx) * BOX_SHARE, (maxy - miny) * BOX_SHARE
            x0, y0 = rng.uniform(minx, maxx - w), rng.uniform(miny, maxy - h)
            box = (x0, y0, x0 + w, y0 + h)
            hits = [r for r in self.rows if in_box(r, box)]
            if kind == "bbox":
                return (lambda: self.count(cat.read_bbox(*box))), len(hits)

            def latest():
                from pyspark.sql import Window

                df = cat.read_bbox(*box)
                if df is None:
                    return 0
                w_ = Window.partitionBy("vehicle_id").orderBy(F.col("ts").desc())
                return self.count(df.withColumn("rn", F.row_number().over(w_)).filter("rn = 1"))

            return latest, len({r[3] for r in hits})
        if kind == "hour_scan":
            h1 = rng.randrange(HOURS - SCAN_HOURS + 1)
            h2 = h1 + SCAN_HOURS - 1
            lo, hi = EPOCH + timedelta(hours=h1), EPOCH + timedelta(hours=h2 + 1)

            def scan():
                df = spark.read.parquet(self.root)
                return self.count(
                    df.filter((F.col("day") == EPOCH.day) & F.col("hour").between(h1, h2)))

            return scan, sum(1 for r in self.rows if lo <= r[1] < hi)
        if kind == "check":
            def check():
                res = cat.check_not_empty(lookback_hours=1)
                return res["total_records"] if res["passed"] else -1

            return check, self.total
        if kind == "snapshot":
            k = self.snapshots % (HOURS // HOURS_PER_BATCH)
            self.snapshots += 1
            expected = sum(1 for r in self.rows if r[0] <= k)
            return (lambda: self.count(cat.read_snapshot(k))), expected
        if kind == "missing":
            return (lambda: self.count(cat.missing_files())), 0
        raise ValueError(kind)


def run(run: Run) -> dict:
    run.start_spark()
    t0 = time.perf_counter()
    store = Store(run)
    store.build()
    run.setup_parts["store_build"] = time.perf_counter() - t0
    rng = random.Random(run.seed + 1)
    # warm-up: a whole round, checked like the timed requests
    for kind in ROUND * WARMUP_ROUNDS:
        fn, expected = store.request(kind, rng)
        run.verify(f"warmup_{kind}", lambda: fn() == expected)
    setup_s = time.perf_counter() - run.t_process

    # seeded rounds, each a shuffled copy of ROUND, so every run issues
    # the same mix
    order: list[str] = []

    def next_op(i):
        if i % len(ROUND) == 0:
            order.extend(rng.sample(ROUND, len(ROUND)))
        kind = order[i]
        fn, expected = store.request(kind, rng)

        def op():
            got = fn()
            return got == expected, max(got, 0)

        return kind, op, None

    wall = run.measure(next_op, len(ROUND), MIN_ROUNDS)
    returned = [s.attrs["paths"] for s in run.recorder.spans if "paths" in s.attrs]
    per_layer = layer_metrics(run, {
        "catalog.pruned_paths_ratio": (median_of(returned) / HOURS, "ratio"),
        "catalog.files_total": (len(parquet_files(run.path("store_catalog"))), "count"),
        "pipeline.sink_files_total": (len(parquet_files(store.root)), "count"),
        "pipeline.stored_bytes_per_record": (
            (dir_bytes(store.root) + dir_bytes(run.path("store_catalog"))) / store.total, "B"),
    })
    return run.finish(setup_s, wall, sum(o.records for o in run.ops), per_layer)
