"""Per-layer numbers of a traced run, named after the engine's modules.

Sources: the benchmark's spans (wall and self time per engine call), the
counts recorded at the same boundaries, Spark's event log folded per job
group (= per span), the snapshot store's manifests and written files, and
two direct calls made here: the NumPy cell kernel on the build's bboxes and
the driver-side tile grouping on the build's cell histogram.

PER_LAYER lists the metrics every workload produces: each runs a full
build and pruned scans.  `per_layer` also returns the workload-specific
ones (spatial_join.* from serving, update.* from change batches, the
lineage time of each stage) for the detail record.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.tile_groups import find_qt_groups
from osmquadtree_depreceated_spark.qtcore import calculate_cells

import gen
import tracing
from engine import BUFFER, GROUP_TARGET, MAX_LEVEL

# name -> unit
PER_LAYER = {
    "sources.parse_spans_s": "s",
    "sources.elements_out": "count",
    "calcqts.way_bboxes_s": "s",
    "calcqts.way_cells_s": "s",
    "calcqts.node_cells_s": "s",
    "calcqts.relation_cells_s": "s",
    "calcqts.shuffle_write_bytes": "bytes",
    "calcqts.shuffle_write_s": "s",
    "calcqts.spill_bytes": "bytes",
    "calcqts.node_fallback_used_ratio": "ratio",
    "udfs.rows_to_python": "count",
    "udfs.bytes_to_python": "bytes",
    "udfs.bytes_from_python": "bytes",
    "udfs.worker_boot_s": "s",
    "udfs.worker_run_s": "s",
    "qtcore.calculate_cells_s": "s",
    "qtcore.cells_per_s": "1/s",
    "lineage.run_stage_s": "s",
    "lineage.rows_written": "count",
    "lineage.bytes_written": "bytes",
    "tile_groups.histogram_collect_s": "s",
    "tile_groups.find_groups_s": "s",
    "tile_groups.assign_s": "s",
    "tile_groups.n_groups": "count",
    "geometry.add_way_coords_s": "s",
    "geomblob.pack_s": "s",
    "geomblob.bytes_out": "bytes",
    "geomblob.decode_s": "s",
    "partitioned.write_s": "s",
    "partitioned.files_written": "count",
    "partitioned.bytes_written": "bytes",
    "partitioned.plan_s": "s",
    "partitioned.scan_s": "s",
    "partitioned.files_read": "count",
    "partitioned.rows_returned_ratio": "ratio",
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.tasks": "count",
    "driver.first_job_delay_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.peak_pss_mb": "MB",
    "trace_overhead_s": "s",
}

_STAGES = {"way_bbox": "calcqts.way_bboxes_s",
           "way_cells": "calcqts.way_cells_s",
           "node_cells": "calcqts.node_cells_s",
           "rel_cells": "calcqts.relation_cells_s"}


def direct_calls(spark, store, truth: dict) -> dict:
    """Kernel and driver-side timings measured by calling the layer
    directly (traced runs only, after the workload)."""
    mnx, mny, mxx, mxy = gen.way_bboxes(truth)
    lon, lat = truth["lon"], truth["lat"]
    boxes = [np.concatenate(a) for a in ((mnx, lon), (mny, lat),
                                         (mxx, lon + 1), (mxy, lat + 1))]
    t0 = time.perf_counter()
    calculate_cells(*boxes, BUFFER, MAX_LEVEL)
    kernel_s = time.perf_counter() - t0

    cells = (store.read(spark, "way_cells").select("cell")
             .unionByName(store.read(spark, "node_cells").select("cell")))
    t0 = time.perf_counter()
    hist = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).toPandas()
    collect_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    groups = find_qt_groups(hist["cell"].values, hist["n"].values,
                            GROUP_TARGET)
    find_s = time.perf_counter() - t0
    return {"qtcore.calculate_cells_s": kernel_s,
            "qtcore.cells_per_s": len(boxes[0]) / kernel_s,
            "tile_groups.histogram_collect_s": collect_s,
            "tile_groups.find_groups_s": find_s,
            "tile_groups.n_groups": len(groups)}


def _dir_stats(path: str) -> tuple[int, int]:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _under(spans: list, root_name: str) -> list:
    """Spans that have an ancestor (or are) named `root_name`."""
    by_id = {s["id"]: s for s in spans}

    def inside(s):
        while s is not None:
            if s["name"] == root_name:
                return True
            s = by_id.get(s["parent"])
        return False
    return [s for s in spans if inside(s)]


def _med(v: list) -> float:
    return statistics.median(v) if v else 0.0


def per_layer(tr, event_log_dir: str, store, tiles: str, direct: dict,
              want: dict, trace_overhead_s: float) -> dict:
    spans = [s for s in tr.spans if s["end"] is not None]
    groups = tracing.parse_event_log(event_log_dir)

    def walls(name, pool=spans):
        return [s["end"] - s["start"] for s in pool if s["name"] == name]

    def ev(pool, key):
        return sum(groups.get(f"span-{s['id']}", {}).get(key, 0.0)
                   for s in pool)

    build = _under(spans, "build")
    out = dict(direct)
    out["sources.parse_spans_s"] = sum(walls("sources.parse_spans", build))
    out["sources.elements_out"] = tr.counts.get("sources.elements_out", 0)

    stage_spans = [s for s in build
                   if s["name"].startswith("plans.lineage.run_stage.")]
    for s in stage_spans:
        key = _STAGES.get(s["name"].rsplit(".", 1)[1])
        if key:
            out[key] = s["end"] - s["start"]
    cq = _under(spans, "plans.lineage.calcqts_pipeline")
    out["calcqts.shuffle_write_bytes"] = ev(cq, "task_shuffle_bytes")
    out["calcqts.shuffle_write_s"] = ev(cq, "task_shuffle_write_ns") / 1e9
    out["calcqts.spill_bytes"] = ev(cq, "task_spill_bytes")
    node_stage = [s for s in stage_spans
                  if s["name"].endswith(".node_cells")]
    sent = ev(node_stage, "py_rows")
    n_lone = int(((want["node"] >= 0) & ~want["has_parent"]).sum())
    out["calcqts.node_fallback_used_ratio"] = n_lone / sent if sent else 0.0

    allg = list(groups.values())

    def total(key):
        return sum(g.get(key, 0.0) for g in allg)

    out["udfs.rows_to_python"] = total("py_rows")
    out["udfs.bytes_to_python"] = total("py_bytes_in")
    out["udfs.bytes_from_python"] = total("py_bytes_out")
    out["udfs.worker_boot_s"] = (total("py_start_ms")
                                 + total("py_init_ms")) / 1000.0
    out["udfs.worker_run_s"] = total("py_run_ms") / 1000.0

    out["lineage.run_stage_s"] = sum(s["end"] - s["start"]
                                     for s in stage_spans)
    rows = bytes_ = 0
    stage_s = {}
    for s in stage_spans:
        stage = s["name"].rsplit(".", 1)[1]
        rows += store.manifest(stage)["row_count"]
        bytes_ += _dir_stats(os.path.join(store.root, stage))[1]
        stage_s[f"lineage.run_stage_s.{stage}"] = s["end"] - s["start"]
    out["lineage.rows_written"] = rows
    out["lineage.bytes_written"] = bytes_
    out.update(stage_s)

    out["tile_groups.assign_s"] = sum(
        walls("operators.tile_groups.assign_groups", build))
    out["geometry.add_way_coords_s"] = sum(
        walls("operators.geometry.add_way_coords", build))
    pack = [s for s in build if s["name"] == "functions.geomblob.pack"]
    out["geomblob.pack_s"] = sum(s["end"] - s["start"] for s in pack)
    out["geomblob.bytes_out"] = ev(pack, "py_bytes_out")

    scans = [s for s in spans
             if s["name"] == "plans.partitioned.pruned_tile_scan"]
    out["geomblob.decode_s"] = ev(scans, "py_run_ms") / 1000.0
    out["partitioned.write_s"] = sum(
        walls("plans.partitioned.write_cell_partitioned", build))
    files, size = _dir_stats(tiles)
    out["partitioned.files_written"] = files
    out["partitioned.bytes_written"] = size
    plan = []
    for s in scans:
        g = groups.get(f"span-{s['id']}", {})
        if g.get("first_submit"):
            plan.append(g["first_submit"] - s["wall_start"])
    out["partitioned.plan_s"] = _med(plan)
    out["partitioned.scan_s"] = _med([s["end"] - s["start"] for s in scans])
    out["partitioned.files_read"] = ev(scans, "files_read")
    scanned = ev(scans, "scan_rows")
    out["partitioned.rows_returned_ratio"] = (
        tr.counts.get("partitioned.rows_returned", 0) / scanned
        if scanned else 0.0)

    # serve only: the warm-up polygon always, kNN when the mix drew one
    knn = [s for s in spans
           if s["name"] == "operators.spatial_join.knn_cell_join"]
    out["spatial_join.knn_s"] = _med([s["end"] - s["start"] for s in knn])
    out["spatial_join.knn_jobs"] = (ev(knn, "jobs") / len(knn)) if knn else 0
    pip = [s for s in spans
           if s["name"] == "operators.spatial_join.point_in_polygon_join"]
    out["spatial_join.pip_s"] = _med([s["end"] - s["start"] for s in pip])
    sent = ev(pip, "py_rows")
    out["spatial_join.pip_rows_to_python"] = sent
    out["spatial_join.pip_hit_ratio"] = (
        tr.counts.get("spatial_join.pip_hits", 0) / sent if sent else 0.0)

    out["driver.jobs"] = total("jobs")
    out["driver.stages"] = total("stages")
    out["driver.tasks"] = total("tasks")
    delays = [d for g in allg for d in g.get("job_delays", [])]
    out["driver.first_job_delay_s"] = _med(delays)
    out["spark.task_cpu_s"] = total("task_cpu_ns") / 1e9
    out["spark.gc_s"] = total("gc_ms") / 1000.0
    out["trace_overhead_s"] = trace_overhead_s

    batches = [s for s in spans if s["name"] == "update.batch"]
    if batches:
        c = tr.counts
        aff = c.get("update.affected_elements", 0)
        out["update.batch_s"] = _med([s["end"] - s["start"]
                                      for s in batches])
        for k in ("affected_ways", "affected_nodes", "affected_tiles"):
            out[f"update.{k}"] = c.get(f"update.{k}", 0) / len(batches)
        out["update.recompute_ratio"] = (
            aff / c["update.base_elements"] if c.get("update.base_elements")
            else 0.0)
        out["update.rows_written_per_affected_row"] = (
            c.get("update.rows_written", 0) / aff if aff else 0.0)
    out["span_self_s"] = {
        name: v["self_s"] for name, v in tracing.totals_by_name(spans).items()}
    return out
