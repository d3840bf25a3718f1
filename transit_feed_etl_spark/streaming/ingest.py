"""Structured-Streaming ingestion — the reference's minutely cron DAG
(A23, reference gtfs_rt_assets.py:248-257) as ONE streaming query:

  spool dir (fetched feed files) -> flatten -> validate/quarantine ->
  partitioned (Geo)Parquet sink + catalog append + quality check, all inside
  foreachBatch (exactly-once per micro-batch).

The reference's process-per-run orchestration (Dagster DefaultRunLauncher,
dagster.yaml:24-26) becomes driver->executor task dispatch; the IO-manager
pickle hand-offs between assets become DataFrame lineage within the batch.

HTTP fetch (A1, reference api_utils.py:57-74) stays a driver-side concern:
a fetcher drops raw feed JSON/protobuf files into the spool dir (see
sources/http_fetch.py); the engine's contract starts at the spool dir,
which is also what makes the pipeline replayable (the reference re-fetches
and can never reproduce a batch).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_feed_etl_spark.pipeline.catalog import FileCatalog
from transit_feed_etl_spark.pipeline.geoparquet import write_geoparquet
from transit_feed_etl_spark.pipeline.gtfs import (
    PARTITION_COLS,
    RAW_FEED_SCHEMA,
    flatten_feed,
    invalid_position,
    with_geometry,
    with_time_partitions,
    write_partitioned,
)


@dataclass
class IngestMetrics:
    """A22 run-metadata parity: per-batch counters the reference attaches
    to Dagster run metadata (gtfs_rt_assets.py:62-66,96-101,192-198)."""

    batches: int = 0
    records: int = 0
    quarantined: int = 0
    empty_batches: int = 0
    checks: list = field(default_factory=list)


def make_batch_processor(
    out_root: str,
    catalog: FileCatalog,
    quarantine_root: str | None = None,
    metrics: IngestMetrics | None = None,
    run_quality_check: bool = True,
    geoparquet: bool = False,
):
    """foreachBatch sink implementing A8/A10/A12/A14-A16/A21.

    The batch is flattened, partitioned and flagged once into one cached
    frame; the counts, the sink write and the quarantine all read it, so
    the spool files are read once per batch.

    ``geoparquet=True`` writes the sink with the one-pass GeoParquet
    writer (WKB `geometry` column, per-file `geo` footer with bbox and
    EPSG:4326 — A12 parity, reference gtfs_rt_assets.py:122-141): one
    file per hour partition named after the batch id, so a replayed
    batch replaces its files and its catalog rows instead of adding
    copies (the quarantine still appends). Each writer task returns its
    file's catalog row, and the catalog gets one row per file."""
    metrics = metrics if metrics is not None else IngestMetrics()

    def process(batch: DataFrame, batch_id: int) -> None:
        flagged = (
            with_time_partitions(with_geometry(flatten_feed(batch)))
            .withColumn("_bad", invalid_position())
            .cache()
        )
        try:
            counts = flagged.agg(
                F.count_if(~F.col("_bad")).alias("good"),
                F.count_if(F.col("_bad")).alias("bad"),
            ).collect()[0]
            n, n_bad = counts["good"], counts["bad"]
            metrics.batches += 1
            if n_bad:  # A8 quarantine instead of log-and-drop
                metrics.quarantined += n_bad
                if quarantine_root:
                    bad = flagged.filter(F.col("_bad")).drop("_bad", *PARTITION_COLS)
                    bad.write.mode("append").parquet(quarantine_root)
            if n == 0:  # A10 empty-batch guard (gtfs_rt_assets.py:114-116)
                metrics.empty_batches += 1
                return
            good = flagged.filter(~F.col("_bad")).drop("_bad")
            if geoparquet:
                # the writer fills the WKB geometry in place of the struct
                rows = write_geoparquet(
                    good.withColumn("geometry", F.lit(None).cast("binary")),
                    out_root,
                    partition_by=PARTITION_COLS,
                    batch_id=batch_id,
                )
                catalog.append_rows(rows, batch_id)
            else:
                write_partitioned(good, out_root)
                # One catalog row per hour partition the batch touched
                # (per-partition rows keep the bbox zone map correct when
                # a catch-up batch spans hours).
                catalog.append_batch_partitions(good, batch_id, out_root)
            metrics.records += n
            if run_quality_check:  # A21 asset-check parity
                metrics.checks.append(catalog.check_not_empty())
        finally:
            flagged.unpersist()

    return process, metrics


def start_ingest(
    spark: SparkSession,
    spool_dir: str,
    out_root: str,
    catalog_path: str,
    checkpoint_dir: str,
    quarantine_root: str | None = None,
    processing_time: str | None = "60 seconds",
    available_now: bool = False,
    geoparquet: bool = False,
):
    """Start the ingestion stream. `available_now=True` drains the spool
    and stops (catch-up/backfill mode); otherwise a 60 s trigger matches
    the reference's cron cadence (gtfs_rt_assets.py:255)."""
    catalog = FileCatalog(spark, catalog_path)
    process, metrics = make_batch_processor(
        out_root, catalog, quarantine_root, geoparquet=geoparquet
    )
    raw = spark.readStream.schema(RAW_FEED_SCHEMA).json(spool_dir)
    writer = raw.writeStream.option("checkpointLocation", checkpoint_dir).foreachBatch(
        process
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start(), metrics, catalog
