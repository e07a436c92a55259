"""The benchmark's calls into the engine: session, build, serve, update.

Every function here calls the engine's public functions and forces their
output; nothing here checks results (check.py does, outside timing).  The
`tr` argument is a trace.Tracer; with tracing off its spans only time.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession, functions as F

from osmquadtree_depreceated_spark.conf import apply_engine_conf
from osmquadtree_depreceated_spark.functions.geomblob import (
    pack_linestring_udf,
    parse_geomblob_udf,
)
from osmquadtree_depreceated_spark.operators.geometry import add_way_coords
from osmquadtree_depreceated_spark.operators.spatial_join import (
    knn_cell_join,
    point_in_polygon_join,
)
from osmquadtree_depreceated_spark.operators.tile_groups import (
    assign_groups,
    tile_groups_df,
)
from osmquadtree_depreceated_spark.operators.update import calc_update_tiles
from osmquadtree_depreceated_spark.plans.lineage import (
    SnapshotStore,
    calcqts_pipeline,
)
from osmquadtree_depreceated_spark.plans.partitioned import (
    pruned_tile_scan,
    read_cell_partitioned,
    write_cell_partitioned,
)
from osmquadtree_depreceated_spark.qtcore import (
    cell_bounds,
    point_cells_closed_form,
)
from osmquadtree_depreceated_spark.sources.docs import parse_spans

CPUS = 4
BUFFER = 0.05
MAX_LEVEL = 18
TILE_LEVEL = 9       # partition level of the tiled store (~0.7 degree tiles)
GROUP_TARGET = 2000  # tile-group size, scaled to the benchmark's input
UPDATE_GROUP_LEVEL = 12


def session(work: str, driver_memory: str, event_log_dir: str | None):
    """local[4] session; every scratch path points inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_engine_conf(spark)
    return spark


class TracedStore(SnapshotStore):
    """The engine's snapshot store with a span around each stage run."""

    def __init__(self, root: str, tr):
        super().__init__(root)
        self.tr = tr

    def run_stage(self, spark, stage, builder, cell_col="cell"):
        with self.tr.span(f"plans.lineage.run_stage.{stage.split('@')[0]}"):
            return super().run_stage(spark, stage, builder, cell_col)


def element_tables(docs):
    """parse_spans plus the relational reshaping calcqts takes."""
    parsed = parse_spans(docs)
    nodes = parsed["nodes"].select("node_id", "lon", "lat")
    way_refs = parsed["ways"].select(
        "way_id", F.posexplode("refs").alias("pos", "ref"))
    rel_members = parsed["rels"].select(
        "rel_id", F.explode("members").alias("m")
    ).select("rel_id", "m.mtype", "m.ref")
    return parsed, nodes, way_refs, rel_members


def build(spark, docs_path: str, out: str, tr) -> dict:
    """One full tile build from the docs parquet into `out`:
    parse -> calcqts snapshot stages (with lineage rows) -> tile groups ->
    way geometry blobs -> one cell-partitioned table of ways and nodes that
    carries each element's doc_id and untouched spans."""
    docs = spark.read.parquet(docs_path)
    with tr.span("sources.parse_spans"):
        parsed, nodes, way_refs, rel_members = element_tables(docs)
        if tr.on:
            tr.rows("sources.elements_out", sum(
                parsed[k].count() for k in ("nodes", "ways", "rels")))
    store = TracedStore(os.path.join(out, "store"), tr)
    with tr.span("plans.lineage.calcqts_pipeline"):
        cq = calcqts_pipeline(spark, store, nodes, way_refs, rel_members,
                              BUFFER, MAX_LEVEL)
    cells = (cq["way_cells"].select(F.lit("w").alias("etype"),
                                    F.col("way_id").alias("id"), "cell")
             .unionByName(cq["node_cells"].select(
                 F.lit("n").alias("etype"), F.col("node_id").alias("id"),
                 "cell")))
    with tr.span("operators.tile_groups.tile_groups_df"):
        counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        groups = tile_groups_df(spark, counts, target=GROUP_TARGET)
    with tr.span("operators.tile_groups.assign_groups"):
        grouped = tr.boundary(assign_groups(cells, groups))
    with tr.span("operators.geometry.add_way_coords"):
        coords = tr.boundary(add_way_coords(way_refs, nodes))
    with tr.span("functions.geomblob.pack"):
        blobs = tr.boundary(coords.select(
            F.lit("w").alias("etype"), F.col("way_id").alias("id"),
            pack_linestring_udf()("refs", "lons", "lats",
                                  F.lit(0).cast("long"), F.lit(1))
            .alias("blob")))
    way_rows = cq["way_bbox"].select(
        F.lit("w").alias("etype"), F.col("way_id").alias("id"),
        "minx", "miny", "maxx", "maxy").join(blobs, ["etype", "id"])
    node_rows = nodes.select(
        F.lit("n").alias("etype"), F.col("node_id").alias("id"),
        F.col("lon").alias("minx"), F.col("lat").alias("miny"),
        F.col("lon").alias("maxx"), F.col("lat").alias("maxy"))
    doc_ids = (parsed["ways"].select(F.lit("w").alias("etype"),
                                     F.col("way_id").alias("id"), "doc_id")
               .unionByName(parsed["nodes"].select(
                   F.lit("n").alias("etype"), F.col("node_id").alias("id"),
                   "doc_id")))
    tiles = (way_rows.unionByName(node_rows, allowMissingColumns=True)
             .join(grouped, ["etype", "id"]).join(doc_ids, ["etype", "id"])
             .join(docs, "doc_id"))
    with tr.span("plans.partitioned.write_cell_partitioned"):
        write_cell_partitioned(tiles, os.path.join(out, "tiles"), TILE_LEVEL)
    return {"store": store, "nodes": nodes, "way_refs": way_refs}


def bbox_query(spark, tiles: str, box, tr) -> list:
    """Window query: pruned scan of the tiled store, decoding the hits'
    blobs; returns (etype, id, decoded point count) rows."""
    with tr.span("plans.partitioned.pruned_tile_scan"):
        rows = pruned_tile_scan(spark, tiles, *box, TILE_LEVEL, BUFFER
                                ).select("etype", "id",
                                         parse_geomblob_udf()("blob")["np"]
                                         ).collect()
        tr.rows("partitioned.rows_returned", len(rows))
    return rows


def polygon_query(spark, tiles: str, lons, lats, tr) -> list:
    """Nodes inside a polygon: pruned scan on its envelope, then pnpoly."""
    with tr.span("operators.spatial_join.point_in_polygon_join"):
        base = pruned_tile_scan(spark, tiles, int(lons.min()),
                                int(lats.min()), int(lons.max()),
                                int(lats.max()), TILE_LEVEL, BUFFER)
        pts = base.filter(F.col("etype") == "n").select(
            "id", F.col("minx").alias("lon"), F.col("miny").alias("lat"))
        ids = [r[0] for r in point_in_polygon_join(
            pts, lons.tolist(), lats.tolist()).select("id").collect()]
        tr.rows("spatial_join.pip_hits", len(ids))
    return ids


def knn_query(spark, tiles: str, lon: int, lat: int, k: int, tr) -> list:
    """k nearest nodes, (rank, id) rows.  The point's own cell is left to
    the engine: the stored node cell is the parent-way cell, not the
    point cell knn_cell_join's prefix counts assume."""
    with tr.span("operators.spatial_join.knn_cell_join"):
        pts = (read_cell_partitioned(spark, tiles)
               .filter(F.col("etype") == "n")
               .select(F.col("id").alias("node_id"),
                       F.col("minx").alias("lon"), F.col("miny").alias("lat")))
        return knn_cell_join([(0, lon, lat)], pts, k, spark=spark
                             ).select("rank", "node_id").collect()


def update_batch(spark, state: dict, changes: list, batch_id: str,
                 tr) -> dict:
    """Apply one node-change batch with calc_update_tiles, which commits
    the merged way and node cells as the batch's snapshot stages; those
    and the merged nodes become the next batch's base.  The merged nodes
    are materialized here, so a batch's plan does not grow with the
    batches before it."""
    ch = spark.createDataFrame(
        changes, "node_id long, seq long, change_type string, lon long, "
        "lat long")
    state["store"].tr = tr
    with tr.span("operators.update.calc_update_tiles"):
        out = calc_update_tiles(
            state["nodes"], state["way_refs"], state["way_cells"],
            state["node_cells"], ch, BUFFER, MAX_LEVEL, UPDATE_GROUP_LEVEL,
            store=state["store"], batch_id=batch_id)
    with tr.span("update.materialize_nodes"):
        nodes = out["nodes"].localCheckpoint(eager=True)
    state.update(nodes=nodes, way_cells=out["way_cells"],
                 node_cells=out["node_cells"])
    return out


def update_counts(out: dict, n_base: int, store, batch_id: str) -> dict:
    """Traced runs only: sizes of a batch's affected sets (extra actions)."""
    ways = out["affected_ways"].count()
    nodes = out["affected_nodes"].count()
    tiles = out["affected_tiles"].count()
    written = sum(store.manifest(f"{s}@{batch_id}")["row_count"]
                  for s in ("way_cells", "node_cells"))
    return {"update.affected_ways": ways, "update.affected_nodes": nodes,
            "update.affected_tiles": tiles,
            "update.affected_elements": ways + nodes,
            "update.base_elements": n_base,
            "update.rows_written": written}


def affected_tile_scan(spark, tiles: str, lon: int, lat: int, tr):
    """Scan the update-level tile around a changed node; returns the tile's
    bounds and the window query's rows."""
    tile = int(point_cells_closed_form(np.array([lon]), np.array([lat]),
                                       UPDATE_GROUP_LEVEL)[0])
    box = [int(v[0]) for v in cell_bounds(np.array([tile]))]
    return box, bbox_query(spark, tiles, box, tr)
