"""Span installation for the traced run, and the per-layer metrics.

The layers are the package's modules. Every per-layer metric is printed
on every workload; a layer a workload leaves idle reads 0 there.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import statistics

from perfbench.harness import Run, median_of

# "spark" holds the actions the benchmark itself calls (count, toPandas):
# engine execution of a plan that a layer only built.
LAYERS = ("sources", "streaming", "pipeline", "catalog", "io", "queries", "operators", "caching",
          "spark")

# The analytics mix: a few queries per family (relational, joins and
# subqueries, windows and time, dedup, similarity, text and curation).
# One pass takes about 5 s on a quiet 4-vCPU VM.
# Three of them (minhash, ivf, tfidf) persist tracked caches, so the
# caching layer is exercised.
QUERY_MIX = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q21_waiting_suppliers",
    "join_revenue_by_nation",
    "scalar_subquery_above_avg_price",
    "latest_event_per_user",
    "asof_join_purchase_before_view",
    "dedup_exact",
    "minhash_lsh_candidates",
    "ivf_ann_topk",
    "tfidf_top_terms",
    "curation_pipeline_stats",
)

MAP_REQUESTS = ("bbox", "hour_scan", "latest_in_bbox", "check", "snapshot", "missing")

# span name -> per-call duration metric (median over traced calls);
# sources.decode_s is a per-tick sum instead (one decode per feed)
SPAN_TIMES = {
    "sources.spool_all_feeds": "sources.spool_s",
    "streaming.processAllAvailable": "streaming.batch_s",
    "pipeline.write_partitioned": "pipeline.write_partitioned_s",
    "pipeline.finalize_geo_metadata": "pipeline.finalize_geo_s",
    "catalog.append_batch_partitions": "catalog.append_s",
    "catalog.check_not_empty": "catalog.check_s",
    "catalog.prune_files": "catalog.prune_s",
    "catalog.read_bbox": "catalog.read_bbox_s",
    "catalog.read_snapshot": "catalog.snapshot_s",
    "catalog.missing_files": "catalog.missing_files_s",
}


def install(run: Run) -> None:
    """Wrap each layer's public functions with spans (traced run only)."""
    from transit_feed_etl_spark import caching, io
    from transit_feed_etl_spark import operators as ops_pkg
    from transit_feed_etl_spark.pipeline import catalog, geoparquet, gtfs
    from transit_feed_etl_spark.sources import gtfs_wire, http_fetch, protobuf_feed
    from transit_feed_etl_spark.streaming import ingest  # noqa: F401 - patched by reference

    C = catalog.FileCatalog
    targets = {
        "sources.spool_all_feeds": (http_fetch, "spool_all_feeds"),
        "sources.fetch_with_retry": (http_fetch, "fetch_with_retry"),
        "sources.parse_feed_message": (protobuf_feed, "parse_feed_message"),
        "sources.decode_feed_message": (gtfs_wire, "decode_feed_message"),
        "pipeline.flatten_feed": (gtfs, "flatten_feed"),
        "pipeline.with_geometry": (gtfs, "with_geometry"),
        "pipeline.validate_positions": (gtfs, "validate_positions"),
        "pipeline.with_time_partitions": (gtfs, "with_time_partitions"),
        "pipeline.write_partitioned": (gtfs, "write_partitioned"),
        "pipeline.wkb_point": (geoparquet, "wkb_point"),
        "pipeline.finalize_geo_metadata": (geoparquet, "finalize_geo_metadata"),
        "io.table": (io, "table"),
        "io.table_par": (io, "table_par"),
        "caching.persist_tracked": (caching, "persist_tracked"),
        "caching.release_caches": (caching, "release_caches"),
    }
    for meth in ("read", "append_batch_partitions", "total_records", "recent_records",
                 "latest_file", "missing_files", "check_not_empty", "prune_files",
                 "read_bbox", "files_as_of", "read_snapshot"):
        targets[f"catalog.{meth}"] = (C, meth)
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                    and not name.startswith("_")):
                targets[f"operators.{info.name}.{name}"] = (mod, name)
    on_result = {
        "sources.fetch_with_retry": lambda a, out, args: a.update(payload_bytes=len(out)),
        "pipeline.finalize_geo_metadata": lambda a, out, args: a.update(stamped=out),
        "caching.release_caches": lambda a, out, args: a.update(released=out),
        "catalog.prune_files": lambda a, out, args: a.update(paths=len(out)),
    }
    run.recorder.install(targets, on_result)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _per_op(spans, selfs, pred, value) -> dict[int, float]:
    out: dict[int, float] = {}
    for sp, st in zip(spans, selfs):
        if sp.op_id is not None and sp.op_id >= 0 and pred(sp):
            out[sp.op_id] = out.get(sp.op_id, 0.0) + value(sp, st)
    return out


def layer_metrics(run: Run, extra: dict) -> dict:
    """Per-layer metrics from the traced ops' spans, plus workload
    counts in `extra` (name -> (value, unit))."""
    rec = run.recorder
    spans, selfs = rec.spans, rec.self_times()
    n_traced = max(sum(o.traced for o in run.ops), 1)
    m: dict[str, tuple[float, str]] = {"session.get_spark_s": (run.get_spark_s, "s")}
    durations: dict[str, list[float]] = {}
    for sp in spans:
        if sp.op_id is not None and sp.op_id >= 0:
            durations.setdefault(sp.name, []).append(sp.end - sp.start)
    for span, metric in SPAN_TIMES.items():
        m[metric] = (median_of(durations.get(span, [])), "s")
    batch_self = _per_op(spans, selfs, lambda s: s.name == "streaming.processAllAvailable",
                         lambda s, st: st)
    m["streaming.batch_self_s"] = (median_of(batch_self.values()), "s")
    decode = _per_op(spans, selfs, lambda s: s.name == "sources.parse_feed_message",
                     lambda s, st: s.end - s.start)
    m["sources.decode_s"] = (median_of(decode.values()), "s")
    payload = _per_op(spans, selfs, lambda s: "payload_bytes" in s.attrs,
                      lambda s, st: s.attrs["payload_bytes"])
    m["sources.payload_bytes"] = (median_of(payload.values()), "B")
    fin = [s for s in spans if s.name == "pipeline.finalize_geo_metadata" and s.op_id is not None
           and s.op_id >= 0]
    scanned = [s.attrs.get("scanned", 0) for s in fin]
    stamped = [s.attrs.get("stamped", 0) for s in fin]
    m["pipeline.finalize_files_scanned"] = (median_of(scanned), "count")
    m["pipeline.finalize_files_stamped"] = (median_of(stamped), "count")
    m["pipeline.finalize_useful_ratio"] = (sum(stamped) / sum(scanned) if sum(scanned) else 0.0,
                                           "ratio")
    m["catalog.pruned_paths_ratio"] = (0.0, "ratio")
    setup_io = sum(s.end - s.start for s in spans if s.op_id == -1 and s.name.startswith("io.")
                   and not spans[s.parent].name.startswith("io."))
    m["io.table_load_s"] = (setup_io, "s")
    for layer in LAYERS:
        per = _per_op(spans, selfs, lambda s, layer=layer: s.name.split(".")[0] == layer,
                      lambda s, st: st)
        m[f"self_s.{layer}"] = (sum(per.values()) / n_traced, "s")
        calls = _per_op(spans, selfs, lambda s, layer=layer: s.name.split(".")[0] == layer,
                        lambda s, st: 1)
        m[f"calls.{layer}"] = (sum(calls.values()) / n_traced, "count")
    roots = _per_op(spans, selfs, lambda s: s.name == "op", lambda s, st: st)
    m["self_s.client"] = (sum(roots.values()) / n_traced, "s")
    for q in QUERY_MIX:
        m[f"queries.{q}_s"] = (median_of(durations.get(f"queries.{q}", [])), "s")
    for kind in MAP_REQUESTS:
        m[f"map_reads.{kind}_s"] = (median_of(
            o.latency_s for o in run.ops if o.kind == kind), "s")
    # the release after each query's action (the one inside the next
    # build finds nothing left to release)
    released = [s.attrs["released"] for s in spans
                if s.name == "caching.release_caches" and s.parent is not None
                and spans[s.parent].name.removeprefix("queries.") in QUERY_MIX]
    m["caching.released_per_query"] = (_mean(released), "count")
    m["caching.tracked_after_build"] = (_mean(
        s.attrs["tracked"] for s in spans if "tracked" in s.attrs), "count")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = (median_of(o.engine.get(k, 0) for o in run.ops), "count")
    # traced minus untraced median latency, per op kind (the kinds differ
    # in cost), then the median over kinds
    diffs = []
    for kind in {o.kind for o in run.ops}:
        t = [o.latency_s for o in run.ops if o.kind == kind and o.traced]
        u = [o.latency_s for o in run.ops if o.kind == kind and not o.traced]
        if t and u:
            diffs.append(statistics.median(t) - statistics.median(u))
    m["trace.overhead_s"] = (median_of(diffs), "s")
    defaults = {
        "ingest.latency_growth": (0.0, "ratio"),
        "pipeline.stored_bytes_per_record": (0.0, "B"),
        "streaming.batches_per_tick": (0, "count"),
        "pipeline.files_written_per_tick": (0, "count"),
        "pipeline.sink_files_total": (0, "count"),
        "catalog.files_total": (0, "count"),
        "sources.fetch_errors": (0, "count"),
    }
    m.update(defaults)
    m.update(extra)
    return m
