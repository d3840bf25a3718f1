"""`ingest` workload: the reference's per-minute ETL tick, end to end.

Each tick, an in-process localhost HTTP server serves one seeded
GTFS-RT wire payload per feed; ``spool_all_feeds`` fetches, decodes and
spools them, and a running ``start_ingest(geoparquet=True)`` stream
takes them as one micro-batch (flatten, validate/quarantine, partitioned
write, GeoParquet footer stamp, catalog append, freshness check). Event
time advances 12 minutes per tick, so a run crosses several hour
partitions.

A tick's spool files are written to a staging directory that is then
renamed into the spool in one step, and the stream watches the glob
``spool/*``, so it never sees half a tick.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from perfbench import feeds
from perfbench.harness import Run, dir_bytes, median_of, parquet_files
from perfbench.layers import layer_metrics

N_FEEDS = 4
VEHICLES_PER_FEED = 250
WARMUP_TICKS = 2
MIN_TICKS = 6
TICK_STEP = timedelta(minutes=12)
EPOCH = datetime(2024, 3, 1, 5, 0, tzinfo=timezone.utc)
TRIGGER = "50 milliseconds"


class FeedServer:
    """Serves the current tick's payload per feed at /<feed_id>."""

    def __init__(self) -> None:
        self.payloads: dict[str, bytes] = {}
        payloads = self.payloads

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                body = payloads.get(self.path.lstrip("/"))
                if body is None:
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/x-protobuf")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def url(self, feed_id: str) -> str:
        return f"http://127.0.0.1:{self.httpd.server_address[1]}/{feed_id}"

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


class Ingest:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.rng = random.Random(run.seed)
        self.cities = feeds.CITIES[:N_FEEDS]
        self.feed_ids = [f"feed_{c[0]}" for c in self.cities]
        self.valid = self.invalid = 0
        self.tick_no = 0
        self.spool = run.path("spool")
        self.sink = run.path("sink")
        self.catalog_path = run.path("catalog")
        self.quarantine = run.path("quarantine")
        self.ckpt = run.path("checkpoint")
        os.makedirs(self.spool)
        self.batches_per_tick: list[int] = []
        self.files_per_tick: list[int] = []
        self.files_after: dict[int, int] = {}  # op id -> sink files after the tick
        self.fetch_errors = 0
        self._catalog_counts: dict[str, int] = {}

    def start(self) -> None:
        from transit_feed_etl_spark.streaming.ingest import start_ingest

        self.server = FeedServer()
        self.feeds = [{"id": fid, "url": self.server.url(fid)} for fid in self.feed_ids]
        self.query, _, self.catalog = start_ingest(
            self.run.spark, os.path.join(self.spool, "*"), self.sink, self.catalog_path, self.ckpt,
            quarantine_root=self.quarantine, processing_time=TRIGGER, geoparquet=True,
        )

    def prepare_tick(self) -> tuple[datetime, int]:
        """Publish the next tick's payloads; returns (event time, valid rows)."""
        now = EPOCH + self.tick_no * TICK_STEP
        valid = 0
        for fid, city in zip(self.feed_ids, self.cities):
            rows, non_vehicle = feeds.vehicle_rows(self.rng, city, VEHICLES_PER_FEED, fid)
            bad = sum(feeds.is_invalid(r) for r in rows)
            valid += len(rows) - bad
            self.invalid += bad
            self.server.payloads[fid] = feeds.encode_feed(rows, non_vehicle, int(now.timestamp()))
        self.valid += valid
        return now, valid

    def commits(self) -> int:
        d = os.path.join(self.ckpt, "commits")
        return sum(1 for f in os.listdir(d) if f.isdigit()) if os.path.isdir(d) else 0

    def catalog_records(self) -> int:
        """Records the catalog lists, read from its files with pyarrow
        (a catalog file never changes once written, so each is read once)."""
        import pyarrow.parquet as pq

        for path in parquet_files(self.catalog_path):
            if path not in self._catalog_counts:
                col = pq.read_table(path, columns=["record_count"]).column(0)
                self._catalog_counts[path] = sum(v for v in col.to_pylist() if v)
        return sum(self._catalog_counts.values())

    def tick(self, now: datetime) -> bool:
        """One tick: fetch+spool, then drain the stream. True when every
        feed was fetched."""
        from transit_feed_etl_spark.sources.http_fetch import spool_all_feeds

        rec = self.run.recorder
        staging = self.run.path("staging", f"tick_{self.tick_no:05d}")
        before = self.commits()
        res = spool_all_feeds(self.feeds, staging, now=now)
        self.fetch_errors += len(res["errors"])
        os.rename(staging, os.path.join(self.spool, os.path.basename(staging)))
        with rec.span("streaming.processAllAvailable"):
            deadline = time.monotonic() + 120
            while True:
                self.query.processAllAvailable()
                if self.commits() > before or time.monotonic() > deadline:
                    break
        self.batches_per_tick.append(self.commits() - before)
        self.tick_no += 1
        return not res["errors"]


def run(run: Run) -> dict:
    t0 = time.perf_counter()
    spark = run.start_spark()
    ing = Ingest(run)
    ing.start()
    for k in range(WARMUP_TICKS):
        now, _ = ing.prepare_tick()
        t1 = time.perf_counter()
        ing.tick(now)
        run.setup_parts[f"warmup_tick_{k}"] = time.perf_counter() - t1
    setup_s = time.perf_counter() - run.t_process
    run.setup_parts["warmup_ticks"] = time.perf_counter() - t0 - run.get_spark_s

    group = ing.query.runId
    state = {"files": len(parquet_files(ing.sink)), "catalog": ing.catalog_records()}

    def next_op(i):
        now, valid = ing.prepare_tick()

        def op():
            return ing.tick(now), valid

        return "tick", op, group

    def settle(i, fetched, valid):
        """A tick is ok when every feed was fetched, exactly one micro-batch
        committed, and the catalog grew by the tick's valid rows; the
        records it committed are the catalog's growth."""
        files, catalog = len(parquet_files(ing.sink)), ing.catalog_records()
        ing.files_after[i] = files
        ing.files_per_tick.append(files - state["files"])
        committed = catalog - state["catalog"]
        state.update(files=files, catalog=catalog)
        return fetched and ing.batches_per_tick[-1] == 1 and committed == valid, committed

    wall = run.measure(next_op, 1, MIN_TICKS, settle=settle)
    # finalize_geo_metadata globs the whole sink: the files it scanned in
    # a tick are the sink's files after that tick, counted outside the span
    for sp in run.recorder.spans:
        if sp.name == "pipeline.finalize_geo_metadata" and sp.op_id in ing.files_after:
            sp.attrs["scanned"] = ing.files_after[sp.op_id]
    try:
        ing.query.stop()
    finally:
        ing.server.close()

    # -- correctness: the catalog, the quarantine, the footers, the readback
    import pyarrow.parquet as pq

    sink_files = parquet_files(ing.sink)
    run.verify("catalog_total", lambda: ing.catalog.total_records() == ing.valid)
    run.verify(
        "quarantine_count",
        lambda: spark.read.parquet(ing.quarantine).count() == ing.invalid,
    )
    run.verify(
        "geo_footers",
        lambda: all(b"geo" in (pq.read_metadata(p).metadata or {}) for p in sink_files),
    )
    run.verify(
        "sink_rows_pyarrow",
        lambda: sum(pq.read_metadata(p).num_rows for p in sink_files) == ing.valid,
    )
    # Known defect: finalize_geo_metadata rewrites files with pyarrow and
    # leaves the Hadoop .crc sidecars stale, so this read raises
    # ChecksumException. It is counted as a failed op, not worked around.
    run.verify("sink_readback_spark", lambda: spark.read.parquet(ing.sink).count() == ing.valid)

    ticks = run.ops
    n = len(ticks)
    tenth = max(n // 10, 1)
    growth = statistics.fmean(o.latency_s for o in ticks[-tenth:]) / statistics.fmean(
        o.latency_s for o in ticks[:tenth]
    )
    committed = sum(o.records for o in ticks)
    stored = dir_bytes(ing.sink) + dir_bytes(ing.catalog_path)
    per_layer = layer_metrics(run, {
        "ingest.latency_growth": (growth, "ratio"),
        "pipeline.stored_bytes_per_record": (stored / ing.valid, "B"),
        "streaming.batches_per_tick": (max(ing.batches_per_tick[WARMUP_TICKS:] or [0]), "count"),
        "pipeline.files_written_per_tick": (median_of(ing.files_per_tick), "count"),
        "pipeline.sink_files_total": (len(sink_files), "count"),
        "catalog.files_total": (len(parquet_files(ing.catalog_path)), "count"),
        "sources.fetch_errors": (ing.fetch_errors, "count"),
    })
    return run.finish(setup_s, wall, committed, per_layer)
