"""GeoParquet sink round-trip (reference gtfs_rt_assets.py:122-141
writes real GeoParquet with CRS EPSG:4326 and per-file bbox): the
written files must carry the `geo` footer metadata a geopandas-style
reader keys on, and the WKB geometry must decode back to lon/lat."""

from __future__ import annotations

import glob
import json

import pandas as pd
import pyarrow.parquet as pq
import pytest

from transit_feed_etl_spark.pipeline.geoparquet import (
    finalize_geo_metadata,
    read_wkb_points,
    write_geoparquet,
)


@pytest.fixture()
def positions(spark):
    rows = [
        ("v1", -74.0, 40.7),
        ("v2", -73.5, 41.0),
        ("v3", None, None),  # NULL-geometry row stays NULL
    ]
    return spark.createDataFrame(
        rows, "vehicle_id string, longitude double, latitude double"
    )


def test_geoparquet_roundtrip(positions, tmp_path):
    root = str(tmp_path / "geo")
    write_geoparquet(positions.coalesce(1), root, mode="overwrite")

    files = glob.glob(root + "/**/*.parquet", recursive=True)
    assert files
    tbl = pq.read_table(files[0])

    # geo footer: the exact keys the GeoParquet 1.0 spec requires
    meta = json.loads(tbl.schema.metadata[b"geo"])
    assert meta["version"] == "1.0.0"
    assert meta["primary_column"] == "geometry"
    col = meta["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    assert col["geometry_types"] == ["Point"]
    assert col["crs"]["id"] == {"authority": "EPSG", "code": 4326}
    # per-file bbox from the file's own coordinates (NULLs excluded)
    assert col["bbox"] == [-74.0, 40.7, -73.5, 41.0]

    # WKB round-trip: binary -> (lon, lat), NULL preserved
    pdf = tbl.to_pandas().sort_values("vehicle_id")
    pts = read_wkb_points(pdf["geometry"])
    assert pts["lon"].tolist()[:2] == [-74.0, -73.5]
    assert pts["lat"].tolist()[:2] == [40.7, 41.0]
    assert pd.isna(pts["lon"].tolist()[2])


def test_all_null_file_gets_bboxless_geo(spark, tmp_path):
    df = spark.createDataFrame(
        [("x", None, None)], "vehicle_id string, longitude double, latitude double"
    )
    root = str(tmp_path / "geo_null")
    write_geoparquet(df.coalesce(1), root, mode="overwrite")
    f = glob.glob(root + "/**/*.parquet", recursive=True)[0]
    col = json.loads(pq.read_table(f).schema.metadata[b"geo"])["columns"]["geometry"]
    assert "bbox" not in col  # reference's NULL-bbox fallback
    assert col["crs"]["id"]["code"] == 4326


def test_finalize_is_idempotent(positions, tmp_path):
    root = str(tmp_path / "geo2")
    write_geoparquet(positions.coalesce(1), root, mode="overwrite")
    assert finalize_geo_metadata(root) == 0  # already stamped -> no rewrite


def test_partitioned_geoparquet_each_file_stamped(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1.0, 2.0, 10), ("b", 3.0, 4.0, 11)],
        "vehicle_id string, longitude double, latitude double, hour int",
    )
    root = str(tmp_path / "geo3")
    write_geoparquet(
        df.repartition(1), root, mode="overwrite", partition_by=("hour",)
    )
    files = glob.glob(root + "/**/*.parquet", recursive=True)
    assert len(files) == 2
    bboxes = {
        tuple(
            json.loads(pq.read_table(f).schema.metadata[b"geo"])["columns"][
                "geometry"
            ]["bbox"]
        )
        for f in files
    }
    # per-FILE bbox, not dataset bbox
    assert bboxes == {(1.0, 2.0, 1.0, 2.0), (3.0, 4.0, 3.0, 4.0)}


def test_wkb_encoder_matches_ogc_layout(spark):
    """The vectorised encoder emits the OGC little-endian point record
    byte for byte, NULL where either coordinate is missing; the Column
    helper runs the same encoder inside a Spark plan."""
    import struct

    import pyarrow as pa

    from transit_feed_etl_spark.pipeline.geoparquet import wkb_point, wkb_points

    lon = pa.array([-74.0, None, 1.5, 2.0])
    lat = pa.array([40.7, 3.0, None, -0.25])
    out = wkb_points(lon, lat).to_pylist()
    assert out[0] == b"\x01\x01\x00\x00\x00" + struct.pack("<dd", -74.0, 40.7)
    assert out[1] is None and out[2] is None
    assert out[3] == b"\x01\x01\x00\x00\x00" + struct.pack("<dd", 2.0, -0.25)

    df = spark.createDataFrame(
        [(-74.0, 40.7), (None, 1.0)], "longitude double, latitude double"
    )
    got = [r["g"] for r in df.select(wkb_point("longitude", "latitude").alias("g")).collect()]
    assert [None if g is None else bytes(g) for g in got] == [out[0], None]


def test_writer_returns_one_catalog_row_per_file(spark, tmp_path):
    """Each file's catalog row names that file and carries the bbox its
    own footer carries."""
    df = spark.createDataFrame(
        [("a", 1.0, 2.0, 10), ("b", 3.0, 4.0, 11), ("c", 5.0, 6.0, 11)],
        "vehicle_id string, longitude double, latitude double, hour int",
    )
    root = str(tmp_path / "geo_rows")
    rows = write_geoparquet(df, root, partition_by=("hour",), batch_id=7).to_pylist()
    assert len(rows) == 2
    for r in rows:
        assert r["batch_id"] == 7
        assert r["file_path"].endswith("part-000000000007.parquet")
        footer = json.loads(pq.read_schema(r["file_path"]).metadata[b"geo"])
        bbox = [r["bbox_minx"], r["bbox_miny"], r["bbox_maxx"], r["bbox_maxy"]]
        assert footer["columns"]["geometry"]["bbox"] == bbox
        assert pq.read_metadata(r["file_path"]).num_rows == r["record_count"]
    by_count = sorted((r["record_count"], r["bbox_minx"], r["bbox_maxx"]) for r in rows)
    assert by_count == [(1, 1.0, 1.0), (2, 3.0, 5.0)]
    # the partition column lives in the path, as with Spark's partitionBy
    back = spark.read.parquet(root)
    assert back.count() == 3
    assert sorted(r["hour"] for r in back.collect()) == [10, 11, 11]


def test_writer_same_batch_id_replaces_its_files(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1.0, 2.0, 10)], "vehicle_id string, longitude double, latitude double, hour int"
    )
    root = str(tmp_path / "geo_replay")
    first = write_geoparquet(df, root, partition_by=("hour",), batch_id=3)
    second = write_geoparquet(df, root, partition_by=("hour",), batch_id=3)
    assert first["file_path"].to_pylist() == second["file_path"].to_pylist()
    assert len(glob.glob(root + "/**/*.parquet", recursive=True)) == 1
    assert not glob.glob(root + "/**/.*", recursive=True)  # no temp files left
    assert spark.read.parquet(root).count() == 1


def test_finalize_repairs_spark_written_sink_readable_by_spark(spark, tmp_path):
    """Repair of a sink written by Spark without footers: the rewrite
    must not leave a stale Hadoop checksum sidecar behind, or Spark's
    own reader fails on the file."""
    root = str(tmp_path / "legacy")
    spark.createDataFrame(
        [("v1", -74.0, 40.7), ("v2", -73.5, 41.0)],
        "vehicle_id string, longitude double, latitude double",
    ).coalesce(1).write.parquet(root)
    assert finalize_geo_metadata(root) == 1
    assert not glob.glob(root + "/.*.parquet.crc")
    f = glob.glob(root + "/*.parquet")[0]
    bbox = json.loads(pq.read_schema(f).metadata[b"geo"])["columns"]["geometry"]["bbox"]
    assert bbox == [-74.0, 40.7, -73.5, 41.0]
    assert spark.read.parquet(root).count() == 2


def test_finalize_skips_stamped_files_from_footer_alone(positions, tmp_path, monkeypatch):
    root = str(tmp_path / "stamped")
    write_geoparquet(positions.coalesce(1), root, mode="overwrite")

    def no_table_reads(*a, **k):
        raise AssertionError("stamped files must not be read whole")

    monkeypatch.setattr(pq, "read_table", no_table_reads)
    assert finalize_geo_metadata(root) == 0


def test_unpartitioned_write_one_file_per_nonempty_partition(positions, spark, tmp_path):
    """Without partition columns each Spark partition writes its own
    file; empty partitions write none."""
    root = str(tmp_path / "geo_parts")
    df = positions.repartition(8)
    rows = write_geoparquet(df, root)
    files = sorted(glob.glob(root + "/*.parquet"))
    assert sorted(rows["file_path"].to_pylist()) == files
    assert 1 <= len(files) <= 3
    assert sum(rows["record_count"].to_pylist()) == 3
    assert spark.read.parquet(root).count() == 3


def test_partition_values_are_escaped_like_spark(spark, tmp_path):
    """String partition values go into directory names escaped the way
    Spark escapes them, so Spark's partition discovery reads them back."""
    df = spark.createDataFrame(
        [("a/b", 1.0, 2.0), ("x=y", 3.0, 4.0), (None, 5.0, 6.0)],
        "feed string, longitude double, latitude double",
    )
    root = str(tmp_path / "geo_esc")
    write_geoparquet(df, root, partition_by=("feed",))
    dirs = sorted(p.rsplit("/", 2)[-2] for p in glob.glob(root + "/*/*.parquet"))
    assert dirs == ["feed=__HIVE_DEFAULT_PARTITION__", "feed=a%2Fb", "feed=x%3Dy"]
    back = {r["feed"]: r["longitude"] for r in spark.read.parquet(root).collect()}
    assert back == {"a/b": 1.0, "x=y": 3.0, None: 5.0}
