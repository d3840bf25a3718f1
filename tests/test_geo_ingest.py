"""The GeoParquet ingest path: `make_batch_processor(geoparquet=True)`
writes one GeoParquet file per (batch, hour partition), takes the
catalog rows from the writer, and replays a batch id idempotently."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from transit_feed_etl_spark.pipeline.catalog import FileCatalog
from transit_feed_etl_spark.pipeline.gtfs import RAW_FEED_SCHEMA
from transit_feed_etl_spark.streaming.ingest import make_batch_processor, start_ingest


def _entity(vid, lat, lon):
    return {
        "id": vid,
        "vehicle": {
            "vehicle": {"id": vid},
            "position": {"latitude": lat, "longitude": lon, "speed": 1.0, "bearing": 0.0},
            "trip": {"trip_id": "t", "route_id": "r"},
            "current_stop_sequence": 1,
            "current_status": 2,
        },
    }


def _raw(spark, tmp_path, name, feeds):
    """A static micro-batch: one spool file per (fetch_ts, entities)."""
    d = tmp_path / name
    d.mkdir()
    for i, (ts, entities) in enumerate(feeds):
        with open(d / f"f{i}.json", "w") as f:
            json.dump({"feed_id": "mta", "fetch_ts": ts, "entity": entities}, f)
    return spark.read.schema(RAW_FEED_SCHEMA).json(str(d))


@pytest.fixture()
def geo_sink(spark, tmp_path):
    out, cat_path = str(tmp_path / "sink"), str(tmp_path / "catalog")
    catalog = FileCatalog(spark, cat_path)
    process, metrics = make_batch_processor(
        out, catalog, str(tmp_path / "quarantine"), geoparquet=True
    )
    return out, catalog, process, metrics


def test_geo_ingest_sink_reads_back_through_spark(spark, tmp_path):
    spool = tmp_path / "spool"
    spool.mkdir()
    for i, ts in enumerate(["2024-03-01T12:00:00", "2024-03-01T12:01:00"]):
        with open(spool / f"f{i}.json", "w") as f:
            json.dump({"feed_id": "mta", "fetch_ts": ts, "entity": [
                _entity(f"v{i}a", 40.7, -74.0), _entity(f"v{i}b", 40.8, -73.9),
                _entity(f"bad{i}", 99.0, -500.0)]}, f)
    out = str(tmp_path / "out")
    q, metrics, catalog = start_ingest(
        spark, str(spool), out, str(tmp_path / "catalog"), str(tmp_path / "ckpt"),
        quarantine_root=str(tmp_path / "quarantine"), available_now=True, geoparquet=True,
    )
    q.awaitTermination(120)
    assert metrics.records == 4 and metrics.quarantined == 2
    assert spark.read.parquet(out).count() == 4
    assert spark.read.parquet(str(tmp_path / "quarantine")).count() == 2
    assert catalog.total_records() == 4
    assert catalog.check_not_empty()["passed"]


def test_geo_batch_replay_is_idempotent(spark, tmp_path, geo_sink):
    out, catalog, process, _ = geo_sink
    batch = _raw(spark, tmp_path, "b0", [
        ("2024-03-01T12:00:00", [_entity("v1", 40.7, -74.0), _entity("v2", 40.8, -73.9)]),
    ])
    process(batch, 0)
    files = sorted(glob.glob(out + "/**/*.parquet", recursive=True))
    process(batch, 0)  # foreachBatch replays a batch id after a failure
    assert sorted(glob.glob(out + "/**/*.parquet", recursive=True)) == files
    assert spark.read.parquet(out).count() == 2
    assert catalog.total_records() == 2
    assert catalog.read().count() == 1


def test_geo_catalog_rows_name_files_with_their_own_bbox(spark, tmp_path, geo_sink):
    out, catalog, process, _ = geo_sink
    # a catch-up batch spanning two hours: two files, two catalog rows
    process(_raw(spark, tmp_path, "b0", [
        ("2024-03-01T12:59:00", [_entity("v1", 40.0, -74.0), _entity("v2", 41.0, -73.0)]),
        ("2024-03-01T13:00:00", [_entity("v3", 10.0, 20.0)]),
    ]), 0)
    rows = catalog.read().collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r["file_path"])
        assert f"{os.sep}hour={r['ts'].hour}{os.sep}" in r["file_path"]
        geo = json.loads(pq.read_schema(r["file_path"]).metadata[b"geo"])
        bbox = [r["bbox_minx"], r["bbox_miny"], r["bbox_maxx"], r["bbox_maxy"]]
        assert geo["columns"]["geometry"]["bbox"] == bbox
        assert pq.read_metadata(r["file_path"]).num_rows == r["record_count"]
    assert sorted(
        (r["record_count"], r["bbox_minx"], r["bbox_maxy"]) for r in rows
    ) == [(1, 20.0, 10.0), (2, -74.0, 41.0)]


def test_geo_snapshot_inside_one_hour(spark, tmp_path, geo_sink):
    """Two batches write the same hour; the snapshot at the first batch
    must not see the second batch's rows."""
    _, catalog, process, _ = geo_sink
    process(_raw(spark, tmp_path, "b0", [
        ("2024-03-01T12:00:00", [_entity("v1", 40.7, -74.0)]),
    ]), 0)
    process(_raw(spark, tmp_path, "b1", [
        ("2024-03-01T12:01:00", [_entity("v2", 40.8, -73.9), _entity("v3", 40.9, -73.8)]),
    ]), 1)
    assert catalog.read_snapshot(0).count() == 1
    assert catalog.read_snapshot(1).count() == 3
    assert {r["vehicle_id"] for r in catalog.read_snapshot(0).collect()} == {"v1"}


def test_all_invalid_batch_is_still_quarantined(spark, tmp_path, geo_sink):
    out, catalog, process, metrics = geo_sink
    process(_raw(spark, tmp_path, "b0", [
        ("2024-03-01T12:00:00", [_entity("bad", 99.0, -500.0)]),
    ]), 0)
    assert metrics.empty_batches == 1 and metrics.records == 0
    assert metrics.quarantined == 1
    quarantine = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert [r["vehicle_id"] for r in quarantine] == ["bad"]
    assert not os.path.exists(out)
    assert catalog.total_records() == 0
