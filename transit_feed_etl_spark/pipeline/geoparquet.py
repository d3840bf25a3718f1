"""GeoParquet sink (A12 parity, reference gtfs_rt_assets.py:122-141).

The reference writes real GeoParquet via geopandas: a WKB geometry
column plus a `geo` file-metadata key carrying encoding/bbox/CRS, so
spatial readers recognize the file. Spark's parquet writer cannot
attach custom key-value metadata, so the executor tasks write the files
themselves, in one pass:

- each task holds one output file's rows (one group of the partition
  columns via `applyInArrow`, or one Spark partition via `mapInArrow`
  when there are none), encodes the 21-byte WKB point column from
  lon/lat in vectorised numpy (public OGC spec: byte-order 01,
  geom-type 1, x, y as little-endian doubles), and writes the file with
  its GeoParquet 1.0.0 `geo` footer (geoparquet.org spec: primary_column,
  WKB encoding, Point geometry type, the file's own bbox, CRS PROJJSON
  for EPSG:4326, constant per reference gtfs_rt_assets.py:128) in the
  same `pq.write_table` call;
- the file goes to a dot-prefixed temp name (Spark and glob skip those)
  and is renamed into place, so readers never see half a file; with a
  `batch_id` the name is deterministic, so a replayed micro-batch
  replaces its own files instead of appending duplicates;
- the task returns the file's catalog row (`CATALOG_SCHEMA`: path, max
  ts, row count, bbox — the reference's per-file catalog INSERT,
  gtfs_rt_assets.py:143-190), so the driver appends rows without an
  aggregate job or a footer rewrite.

`finalize_geo_metadata` is kept only to repair sinks written by the
older two-phase writer (plain Spark parquet, footers stamped afterwards).
"""

from __future__ import annotations

import glob
import json
import os
import re
import struct
import uuid
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transit_feed_etl_spark.pipeline.catalog import (
    CATALOG_ARROW_SCHEMA,
    CATALOG_SCHEMA,
    write_parquet_atomic,
)

GEO_VERSION = "1.0.0"

# Minimal PROJJSON for EPSG:4326 (public EPSG registry definition).
CRS_PROJJSON = {
    "$schema": "https://proj.org/schemas/v0.5/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84",
    "datum": {
        "type": "GeodeticReferenceFrame",
        "name": "World Geodetic System 1984",
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"},
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
        ],
    },
    "id": {"authority": "EPSG", "code": 4326},
}

# One WKB point record: 01 (little-endian) + 01000000 (Point) + x + y.
# Unaligned structured dtype, so one record is exactly 21 bytes.
_WKB_POINT = np.dtype([("order", "u1"), ("type", "<u4"), ("x", "<f8"), ("y", "<f8")])


def wkb_points(lon: pa.Array, lat: pa.Array) -> pa.Array:
    """Vectorised WKB point encoding of two float64 Arrow arrays; NULL
    where either coordinate is missing (reference's None-geometry rows,
    gtfs_rt_assets.py:124-127)."""
    lon, lat = lon.cast(pa.float64()), lat.cast(pa.float64())
    n = len(lon)
    rec = np.empty(n, _WKB_POINT)
    rec["order"], rec["type"] = 1, 1
    rec["x"] = lon.to_numpy(zero_copy_only=False)
    rec["y"] = lat.to_numpy(zero_copy_only=False)
    offsets = np.arange(0, (n + 1) * _WKB_POINT.itemsize, _WKB_POINT.itemsize, np.int32)
    wkb = pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(rec.tobytes())]
    )
    if lon.null_count or lat.null_count:
        valid = pc.and_(lon.is_valid(), lat.is_valid())
        wkb = pc.if_else(valid, wkb, pa.scalar(None, pa.binary()))
    return wkb


# BinaryType instance (not a "binary" DDL string): string return types
# are parsed against the active session, which need not exist at import
@F.arrow_udf(T.BinaryType())
def _wkb_point_udf(lon: pa.Array, lat: pa.Array) -> pa.Array:
    return wkb_points(lon, lat)


def wkb_point(lon: Column | str, lat: Column | str) -> Column:
    """Column helper over `wkb_points`, for callers that want the WKB
    column inside a Spark plan rather than in the file writer."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    return _wkb_point_udf(lon, lat)


def geo_metadata(bbox: list[float] | None) -> dict:
    col: dict = {
        "encoding": "WKB",
        "geometry_types": ["Point"],
        "crs": CRS_PROJJSON,
    }
    if bbox is not None:
        col["bbox"] = bbox
    return {
        "version": GEO_VERSION,
        "primary_column": "geometry",
        "columns": {"geometry": col},
    }


def _bbox(tbl: pa.Table, lon_col: str, lat_col: str) -> list[float] | None:
    """min/max of the file's own coordinates (the reference's
    gdf.total_bounds per file, gtfs_rt_assets.py:161-168); None when the
    file has no coordinate (reference's NULL-bbox fallback, :169-170)."""
    if lon_col not in tbl.column_names or lat_col not in tbl.column_names:
        return None
    lon, lat = pc.min_max(tbl[lon_col]), pc.min_max(tbl[lat_col])
    if not lon["min"].is_valid:
        return None
    return [lon["min"].as_py(), lat["min"].as_py(), lon["max"].as_py(), lat["max"].as_py()]


# Characters Spark escapes in Hive partition directory names.
_HIVE_ESCAPE = re.compile(r'[\x00-\x1f"#%\'*/:=?\\\x7f{\[\]^]')


def _partition_dir(cols: tuple[str, ...], values) -> str:
    def escape(v) -> str:
        if v is None:
            return "__HIVE_DEFAULT_PARTITION__"
        return _HIVE_ESCAPE.sub(lambda m: f"%{ord(m.group()):02X}", str(v))

    return os.path.join(*(f"{c}={escape(v)}" for c, v in zip(cols, values)))


def _write_with_footer(tbl: pa.Table, path: str, lon_col: str, lat_col: str):
    """Write `tbl` to `path` with its `geo` footer; returns the bbox."""
    bbox = _bbox(tbl, lon_col, lat_col)
    meta = dict(tbl.schema.metadata or {})
    meta[b"geo"] = json.dumps(geo_metadata(bbox)).encode()
    write_parquet_atomic(tbl.replace_schema_metadata(meta), path)
    return bbox


def _write_file(
    tbl: pa.Table, path: str, batch_id: int, lon_col: str, lat_col: str
) -> pa.Table:
    """Write one GeoParquet file and return its catalog row."""
    wkb = wkb_points(tbl[lon_col].combine_chunks(), tbl[lat_col].combine_chunks())
    if "geometry" in tbl.column_names:
        tbl = tbl.set_column(tbl.column_names.index("geometry"), "geometry", wkb)
    else:
        tbl = tbl.append_column("geometry", wkb)
    bbox = _write_with_footer(tbl, path, lon_col, lat_col)

    now = datetime.now(timezone.utc)
    ts = pc.max(tbl["ts"]).as_py() if "ts" in tbl.column_names else None
    x0, y0, x1, y1 = bbox or (None,) * 4
    return pa.Table.from_pylist(
        [{"batch_id": batch_id, "file_path": path, "ts": ts or now,
          "record_count": tbl.num_rows, "created_at": now,
          "bbox_minx": x0, "bbox_miny": y0, "bbox_maxx": x1, "bbox_maxy": y1}],
        CATALOG_ARROW_SCHEMA,
    )


def write_geoparquet(
    df: DataFrame,
    root: str,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    batch_id: int | None = None,
) -> pa.Table:
    """One-pass GeoParquet write; returns one catalog row per file
    written (`CATALOG_ARROW_SCHEMA`). A WKB `geometry` column derived
    from lon/lat replaces any existing `geometry` column (GeoParquet
    readers key on primary_column "geometry" being WKB); NULL-coordinate
    rows keep NULL geometry (null-tolerant schema, SURVEY §1.1).

    With `partition_by`, each group of those columns becomes one file
    under Hive-style directories (the columns move to the path, as with
    Spark's partitionBy); without, each Spark partition becomes one file.
    `batch_id` names the files (`part-<batch_id>.parquet`, so a rewrite
    of the same batch replaces them) and fills the rows' batch_id;
    without it the files get a fresh unique name and batch_id 0."""
    mode = mode.lower()
    if mode == "overwrite":
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    elif mode in ("error", "errorifexists") and os.path.exists(root):
        raise FileExistsError(f"path {root} already exists")
    elif mode == "ignore" and os.path.exists(root):
        return CATALOG_ARROW_SCHEMA.empty_table()
    elif mode not in ("append", "overwrite", "error", "errorifexists", "ignore"):
        raise ValueError(f"unknown save mode {mode!r}")

    stem = f"part-{batch_id:012d}" if batch_id is not None else f"part-{uuid.uuid4().hex}"
    bid = batch_id or 0
    cols = tuple(partition_by)

    if cols:
        # unannotated: applyInArrow infers its calling convention from
        # type hints, and postponed (string) annotations defeat that
        def write_group(key, tbl):
            d = os.path.join(root, _partition_dir(cols, [k.as_py() for k in key]))
            return _write_file(tbl.drop_columns(list(cols)), os.path.join(d, f"{stem}.parquet"),
                               bid, lon_col, lat_col)

        rows = df.groupBy(*cols).applyInArrow(write_group, CATALOG_SCHEMA)
    else:
        def write_partition(batches):
            from pyspark import TaskContext

            batches = [b for b in batches if b.num_rows]
            if batches:  # an empty partition writes no file
                name = f"{stem}-{TaskContext.get().partitionId():05d}.parquet"
                yield from _write_file(pa.Table.from_batches(batches),
                                       os.path.join(root, name), bid,
                                       lon_col, lat_col).to_batches()

        rows = df.mapInArrow(write_partition, CATALOG_SCHEMA)
    return rows.toArrow().cast(CATALOG_ARROW_SCHEMA)


def finalize_geo_metadata(
    root: str, lon_col: str = "longitude", lat_col: str = "latitude"
) -> int:
    """Repair tool for sinks written before the one-pass writer: stamp
    the `geo` metadata onto every parquet file under root that lacks it;
    returns the number stamped. Stamped files are recognised from their
    footer alone. A rewritten file's Hadoop `.<name>.crc` sidecar no
    longer matches it, and Spark's local reader would fail on the
    checksum, so the sidecar is deleted."""
    import pyarrow.parquet as pq

    n = 0
    for path in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        if b"geo" in (pq.read_schema(path).metadata or {}):
            continue
        _write_with_footer(pq.read_table(path), path, lon_col, lat_col)
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        n += 1
    return n


def read_wkb_points(wkb: pd.Series) -> pd.DataFrame:
    """Test/reader helper: decode WKB points back to (lon, lat)."""
    lons, lats = [], []
    for b in wkb:
        if b is None:
            lons.append(None)
            lats.append(None)
        else:
            assert bytes(b[:5]) == b"\x01\x01\x00\x00\x00", "not a WKB point"
            x, y = struct.unpack("<dd", bytes(b[5:21]))
            lons.append(x)
            lats.append(y)
    return pd.DataFrame({"lon": lons, "lat": lats})
