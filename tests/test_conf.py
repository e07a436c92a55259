"""Regression coverage for osmquadtree_depreceated_spark.conf.

Pins the Spark 4.1 union-output-partitioning planner defect that
`apply_engine_conf` works around (FIXTURES.md §"Spark 4.1 union output
partitioning"): with broadcast joins disabled and AQE off (exactly the
planning environment of a streaming foreachBatch body), a nested
union -> distinct -> join shape plans the distinct's HashAggregate
directly over the Union (UnionExec claims the children's common
HashPartitioning(N)), but the union physically materializes the
concatenated 2N partitions — the downstream SortMergeJoin then dies
zipping N against 2N.  The reproducer (`_nested_union_shape`) is the
affected-tile plan `calc_update_tiles` built before its change-sized sets
became materialized broadcast sides: a standalone 3-way nested union of
co-partitioned groupBys does NOT trigger the defect (measured — Spark
plans that one correctly), and neither does the current operator, whose
joins against those sets are all broadcasts.
"""

import contextlib

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.calcqts import (
    node_cells,
    way_bboxes,
    way_cells,
)
from osmquadtree_depreceated_spark.functions.cells import cell_round
from osmquadtree_depreceated_spark.operators.update import (
    calc_update_tiles,
    latest_version,
)


@contextlib.contextmanager
def _conf(spark, **kv):
    """Temporarily set runtime conf keys, restoring on exit."""
    keys = {k.replace("__", "."): v for k, v in kv.items()}
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _inputs(spark):
    nodes = spark.createDataFrame(
        [(i, i * 1_000_000 - 5_000_000, 505_000_000 + i * 500_000)
         for i in range(1, 8)],
        "node_id long, lon long, lat long",
    )
    way_refs = spark.createDataFrame(
        [(10 + i // 2, i % 2 + 1, i) for i in range(1, 8)],
        "way_id long, pos long, ref long",
    )
    wc = way_cells(way_bboxes(way_refs, nodes), 0.05, 18)
    nc = node_cells(nodes, way_refs, wc, 0.05, 18)
    changes = spark.createDataFrame(
        [(1, 1, "modify", -5_500_000, 505_500_000),
         (7, 1, "delete", None, None),
         (100, 1, "create", 9_000_000, 519_000_000)],
        "node_id long, seq long, change_type string, lon long, lat long",
    )
    return nodes, way_refs, wc, nc, changes


def _affected_tiles(spark):
    return calc_update_tiles(*_inputs(spark))["affected_tiles"]


def _nested_union_shape(spark):
    """Affected tiles of the batch as a plain shuffle plan: the changed,
    deleted and affected id sets each a distinct, the old cells a union of
    semi-joins against them, then one more distinct."""
    _, way_refs, wc, nc, changes = _inputs(spark)
    changed = latest_version(
        changes, ["node_id"],
        [("seq", "desc"), ("change_type", "desc"), ("lon", "desc"),
         ("lat", "desc")],
    )
    changed_ids = changed.select("node_id").distinct()
    deleted_ids = (
        changed.filter(F.col("change_type") == "delete")
        .select("node_id").distinct()
    )
    affected_ways = (
        way_refs.join(changed_ids, way_refs["ref"] == changed_ids["node_id"],
                      "left_semi")
        .select("way_id").distinct()
    )
    affected_nodes = (
        way_refs.join(affected_ways, "way_id", "left_semi")
        .select(F.col("ref").alias("node_id"))
        .unionByName(changed_ids)
        .distinct()
        .join(deleted_ids, "node_id", "left_anti")
    )
    old_cells = (
        wc.join(affected_ways, "way_id", "left_semi").select("cell")
        .unionByName(
            nc.join(changed_ids.unionByName(affected_nodes).distinct(),
                    "node_id", "left_semi").select("cell")
        )
    )
    return old_cells.select(
        cell_round("cell", 12).alias("tile_cell")
    ).distinct()


def test_engine_conf_disables_union_output_partitioning(spark):
    from osmquadtree_depreceated_spark.conf import apply_engine_conf

    apply_engine_conf(spark)
    assert spark.conf.get("spark.sql.unionOutputPartitioning") == "false"


def test_update_pipeline_correct_under_engine_conf(spark):
    """The update operator, and the shape that crashed its earlier plan,
    complete under the engine conf in the exact planning environment that
    exposed the defect (broadcast off, AQE off, plain shuffle
    partitioning)."""
    with _conf(
        spark,
        spark__sql__unionOutputPartitioning="false",
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__enabled="false",
        spark__sql__shuffle__partitions="16",
    ):
        tiles = _affected_tiles(spark).collect()
        shape_tiles = _nested_union_shape(spark).collect()
    assert len(tiles) >= 1
    assert all(r["tile_cell"] >= 0 for r in tiles)
    assert len(shape_tiles) >= 1


def test_union_output_partitioning_defect_still_present(spark):
    """Documents the upstream defect: the reproducer with the conf at its
    Spark 4.1 default either crashes with the partition-zip error
    (defect present — the workaround is load-bearing) or succeeds
    (fixed upstream — the workaround is then merely redundant, and this
    test skips with that message instead of failing)."""
    with _conf(
        spark,
        spark__sql__unionOutputPartitioning="true",
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__enabled="false",
        spark__sql__shuffle__partitions="16",
    ):
        try:
            tiles = _nested_union_shape(spark).collect()
        except Exception as e:  # noqa: BLE001 - py4j error type varies
            assert "unequal numbers of partitions" in str(e), (
                f"expected the documented partition-zip defect, got: {e}"
            )
            return
    assert len(tiles) >= 1
    pytest.skip(
        "spark.sql.unionOutputPartitioning=true no longer mis-plans — "
        "upstream fixed; apply_engine_conf's override is now redundant"
    )
