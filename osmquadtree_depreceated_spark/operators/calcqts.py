"""The calcqts pipeline — quadtree cell assignment for ways, nodes and
relations, re-expressed as declarative DataFrame dataflow.

Reference semantics (/root/reference/calcqts/resortwaynodes.go):
  * way cell  = Calculate(bbox over member-node coords, buffer 0.05, depth 18)
                (:539-630, :615)
  * node cell = Common over parent-way cells, else point-box cell
                Calculate((lon,lat,lon+1,lat+1), 0.05, 18)   (:696-709)
  * rel cell  = Common over member node/way cells; empty members -> 0;
                self-circular -> 0; rel->rel closure x5 rounds (:767-824)

The reference achieves this with external spills + goroutine merges; here
each step is one shuffle-stage expressed natively so Catalyst/AQE pick the
physical plan.  Skew notes per step are in the docstrings — this is the
10^12-row-scale design surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.cells import (
    common_agg,
    common_finish,
    with_cell_of_bbox,
    with_common_finish,
)
from ..functions.udfs import cell_of_bbox_udf


def way_bboxes(way_refs: DataFrame, nodes: DataFrame,
               salt_buckets: int = 0) -> DataFrame:
    """Per-way bbox over member node coordinates.

    way_refs(way_id, pos, ref) ⋈ nodes(node_id, lon, lat) on ref, then
    min/max per way — the reference's Expand-into-dense-tiles MapReduce
    (calcqts/waybbox.go:360-444) as one join + one aggregation.

    Scale: the join shuffles on `ref`; hot nodes (city landmarks referenced
    by thousands of ways) and mega-ways both skew it.  Spark's hash
    aggregation computes MAP-SIDE PARTIAL min/max — each map partition
    emits at most one row per way — so the reducer's group size for even a
    10^9-ref mega-way is bounded by the partition count: the two-phase
    aggregation the north_rule asks for is the native plan.  `salt_buckets
    > 0` adds an EXPLICIT extra (way_id, pos % salt) pre-reduce; measured
    at sf0.1 local[32] it only costs (+34% stage time for the extra
    shuffle, round 3) because partial aggregation already provides the
    bound — it exists for aggregations without partial push-down (e.g.
    collect_list assembly), not for min/max.  Default call sites use 0.
    AQE skew-join splitting handles the join side — pinned by
    tests/test_skew_join.py: a node holding 50% of all refs makes the
    final adaptive plan split the SortMergeJoin (``skew=true``) with
    value-identical output.
    """
    j = way_refs.join(
        nodes,
        way_refs["ref"] == nodes["node_id"],
        "inner",
    ).select("way_id", "pos", "lon", "lat")

    aggs = [
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    ]
    if salt_buckets and salt_buckets > 1:
        partial = j.groupBy(
            "way_id", (F.pmod(F.col("pos"), F.lit(salt_buckets))).alias("_salt")
        ).agg(*aggs)
        return partial.groupBy("way_id").agg(
            F.min("minx").alias("minx"),
            F.min("miny").alias("miny"),
            F.max("maxx").alias("maxx"),
            F.max("maxy").alias("maxy"),
        )
    return j.groupBy("way_id").agg(*aggs)


def cells_of_bboxes(df: DataFrame, buffer: float, max_level: int,
                    out: str = "cell") -> DataFrame:
    """Buffered-cell computation over (minx,miny,maxx,maxy) via the
    Arrow-vectorized NumPy kernel — the measured-fastest exact path.

    (An unrolled native-expression descent exists —
    functions.cells.with_cell_of_bbox — and is bit-identical when seeded
    with exact_merc, but its ~130 chained expressions exceed the 64KB
    whole-stage-codegen limit and fall back to interpreted evaluation,
    measured ~4x slower end-to-end than this kernel.  Kept as an option for
    environments without Python workers.)"""
    calc = cell_of_bbox_udf(buffer, max_level)
    return df.withColumn(out, calc("minx", "miny", "maxx", "maxy"))


def way_cells(way_bbox: DataFrame, buffer: float = 0.05,
              max_level: int = 18, native: bool = False) -> DataFrame:
    """Buffered cell per way bbox (resortwaynodes.go:615,:621-625).

    Default: the Arrow NumPy kernel (fastest exact path, see
    cells_of_bboxes).  native=True switches to the unrolled in-JVM descent
    with exact_merc seeding — same results, slower (codegen size limit)."""
    if native:
        return with_cell_of_bbox(
            way_bbox, "minx", "miny", "maxx", "maxy", "cell", buffer,
            max_level, exact_merc=True,
        ).select("way_id", "cell")
    calc = cell_of_bbox_udf(buffer, max_level)
    return way_bbox.select(
        "way_id", calc("minx", "miny", "maxx", "maxy").alias("cell")
    )


def node_cells(nodes: DataFrame, way_refs: DataFrame, wcells: DataFrame,
               buffer: float = 0.05, max_level: int = 18) -> DataFrame:
    """Node cell = Common over parent-way cells, falling back to the node's
    own point-box cell Calculate((lon,lat,lon+1,lat+1), buffer, 18)
    (resortwaynodes.go:696-709).

    The Common fold runs as three native min/max aggregates plus a bit-math
    finish (SURVEY.md §7.4) — associative, so map-side partials absorb hot
    nodes.  The fallback is always the Arrow NumPy kernel
    (cell_of_bbox_udf).
    """
    parent = with_common_finish(
        way_refs.join(wcells, "way_id").groupBy("ref").agg(*common_agg("cell")),
        out="way_common",
    ).select(F.col("ref").alias("node_id"), "way_common")
    joined = nodes.join(parent, "node_id", "left")
    # Single pass: the Arrow kernel computes the 1-unit point-box fallback
    # for every node (cheap vectorized NumPy) and coalesce picks the parent
    # fold when present — measured faster than splitting into two branches,
    # which recomputes the parent join lineage twice.
    calc = cell_of_bbox_udf(buffer, max_level)
    return joined.select(
        "node_id",
        F.coalesce(
            "way_common",
            calc(
                "lon", "lat",
                (F.col("lon") + F.lit(1)).cast("long"),
                (F.col("lat") + F.lit(1)).cast("long"),
            ),
        ).alias("cell"),
    )


def relation_cells(rel_members: DataFrame, wcells: DataFrame,
                   ncells: DataFrame, rounds: int = 5) -> DataFrame:
    """Relation cells (resortwaynodes.go:767-824).

    rel_members(rel_id, mtype in ('n','w','r'), ref).
    Base pass: Common over node-member and way-member cells.  Empty-member
    relations get 0; a self-referencing relation with no value gets 0.  Then
    `rounds` iterations propagate child-relation cells upward (nested
    hierarchies); anything still unresolved stays Null (-1), mirroring the
    reference's "missing rel qts" accounting.

    Scale: the rel table is orders of magnitude smaller than nodes/ways; the
    closure loop is `rounds` small self-joins — each a cheap shuffle, and the
    loop count is fixed (5) rather than data-dependent, exactly like the
    reference.
    """
    members_n = (
        rel_members.filter(F.col("mtype") == "n")
        .join(ncells, rel_members["ref"] == ncells["node_id"])
        .select("rel_id", "cell")
    )
    members_w = (
        rel_members.filter(F.col("mtype") == "w")
        .join(wcells, rel_members["ref"] == wcells["way_id"])
        .select("rel_id", "cell")
    )
    base = with_common_finish(
        members_n.unionByName(members_w)
        .groupBy("rel_id")
        .agg(*common_agg("cell")),
        out="cell",
    ).select("rel_id", "cell")

    all_rels = rel_members.select("rel_id").distinct()
    cur = all_rels.join(base, "rel_id", "left")

    # Empty-member relations: the caller encodes them as mtype='none' rows
    # (one per relation); the reference sets their cell to 0 outright
    # (resortwaynodes.go writeRelQts: mm.Len()==0 -> Set(ei, 0)).  A 'none'
    # row matches no n/w/r member filter, so without this rule such
    # relations would fall through to -1 (missing) instead of 0.
    empty_rels = (
        rel_members.filter(F.col("mtype") == "none")
        .select("rel_id")
        .distinct()
        .withColumn("_empty", F.lit(True))
    )
    self_circ = (
        rel_members.filter(
            (F.col("mtype") == "r") & (F.col("ref") == F.col("rel_id"))
        )
        .select("rel_id")
        .distinct()
        .withColumn("_circ", F.lit(True))
    )
    cur = (
        cur.join(empty_rels, "rel_id", "left")
        .join(self_circ, "rel_id", "left")
        .select(
            "rel_id",
            F.when(F.col("_empty"), F.lit(0).cast("long"))
            .when(F.col("cell").isNotNull(), F.col("cell"))
            .when(F.col("_circ"), F.lit(0).cast("long"))
            .otherwise(F.lit(None).cast("long"))
            .alias("cell"),
        )
    )

    rel_rel = rel_members.filter(F.col("mtype") == "r").select(
        "rel_id", F.col("ref").alias("child_id")
    )

    # No rel->rel edges: the closure rounds are identities — skip them (one
    # cheap existence probe instead of 5 wasted shuffle stages).
    if rel_rel.limit(1).isEmpty():
        rounds = 0

    for _ in range(rounds):
        child_cells = with_common_finish(
            rel_rel.join(
                cur.filter(F.col("cell").isNotNull()).select(
                    F.col("rel_id").alias("child_id"),
                    F.col("cell").alias("child_cell"),
                ),
                "child_id",
            )
            .groupBy("rel_id")
            .agg(*common_agg("child_cell")),
            out="from_children",
        ).select("rel_id", "from_children")
        cur = cur.join(child_cells, "rel_id", "left").select(
            "rel_id",
            F.coalesce(
                common_pair_expr("cell", "from_children"), F.col("cell")
            ).alias("cell"),
        )
        # Cut lineage between rounds: CollapseProject would otherwise inline
        # each round's bit-math into the next — exponential expression growth
        # that OOMs the optimizer by round 5.  The rel table is tiny relative
        # to nodes/ways; in production each round lands in the snapshot store
        # (plans/lineage.py) instead of executor memory.
        cur = cur.localCheckpoint(eager=False)
    return cur.select("rel_id", F.coalesce("cell", F.lit(-1)).alias("cell"))


def common_pair_expr(a: str, b: str):
    """Common of two cell columns (either nullable) as one native expression:
    the distributed finish (oracle/sqlgen.common_finish_sql) applied to the
    two-element set, with NULL as identity (quadtree.go:216-221)."""
    from ..oracle.sqlgen import SPARK, common_finish_sql

    fin = common_finish_sql(
        SPARK,
        f"least({a} & -32, {b} & -32)",
        f"greatest({a} & -32, {b} & -32)",
        f"least({a} & 31, {b} & 31)",
    )
    return F.expr(
        f"case when {a} is null then {b} when {b} is null then {a} "
        f"else {fin} end"
    )
