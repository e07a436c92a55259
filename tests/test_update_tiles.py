"""CalcUpdateTiles: incremental recompute == full recompute, affected-set
minimality, tile output, and snapshot-store commit."""

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.calcqts import (
    node_cells,
    way_bboxes,
    way_cells,
)
from osmquadtree_depreceated_spark.operators.update import calc_update_tiles


@pytest.fixture(scope="module")
def base(spark):
    nodes = spark.createDataFrame(
        [
            (1, -5_000_000, 505_000_000), (2, -4_900_000, 505_100_000),
            (3, 3_000_000, 515_000_000), (4, 3_100_000, 515_100_000),
            (5, 8_000_000, 511_000_000), (6, 8_100_000, 511_100_000),
            (7, 0, 510_000_000),
        ],
        "node_id long, lon long, lat long",
    )
    way_refs = spark.createDataFrame(
        [
            (10, 1, 1), (10, 2, 2),          # way 10: nodes 1,2
            (11, 1, 3), (11, 2, 4),          # way 11: nodes 3,4
            (12, 1, 5), (12, 2, 6),          # way 12: nodes 5,6
            (13, 1, 7), (13, 2, 7),          # way 13: node 7 only
        ],
        "way_id long, pos long, ref long",
    )
    wc = way_cells(way_bboxes(way_refs, nodes), 0.05, 18)
    nc = node_cells(nodes, way_refs, wc, 0.05, 18)
    return nodes, way_refs, wc, nc


def _full(spark, nodes, way_refs):
    wc = way_cells(way_bboxes(way_refs, nodes), 0.05, 18)
    nc = node_cells(nodes, way_refs, wc, 0.05, 18)
    return (
        {r["way_id"]: r["cell"] for r in wc.collect()},
        {r["node_id"]: r["cell"] for r in nc.collect()},
    )


def test_incremental_equals_full_and_touches_minimum(spark, base):
    nodes, way_refs, wc, nc = base
    changes = spark.createDataFrame(
        [
            (1, 1, "modify", -5_500_000, 505_500_000),
            (7, 1, "delete", None, None),
            (100, 1, "create", 9_000_000, 519_000_000),
        ],
        "node_id long, seq long, change_type string, lon long, lat long",
    )
    out = calc_update_tiles(nodes, way_refs, wc, nc, changes)

    # affected sets are minimal: way 10 (node 1), way 13 (node 7); nodes
    # 1 (modified), 2 (peer in way 10), 100 (created); 7 deleted
    aff_w = {r["way_id"] for r in out["affected_ways"].collect()}
    assert aff_w == {10, 13}
    aff_n = {r["node_id"] for r in out["affected_nodes"].collect()}
    assert aff_n == {1, 2, 100}

    merged_nodes = out["nodes"]
    got_w = {r["way_id"]: r["cell"] for r in out["way_cells"].collect()}
    got_n = {r["node_id"]: r["cell"] for r in out["node_cells"].collect()}
    want_w, want_n = _full(spark, merged_nodes, way_refs)
    assert got_w == want_w
    assert got_n == want_n
    # way 13 lost its only node -> dropped, like the full recompute
    assert 13 not in got_w
    assert 7 not in got_n and 100 in got_n

    tiles = {r["tile_cell"] for r in out["affected_tiles"].collect()}
    assert len(tiles) >= 1
    # every affected tile is a depth-<=12 prefix
    assert all((t & 31) <= 12 for t in tiles)


def test_update_plans_probe_base_by_broadcast(spark, base):
    """Change-sized sets are materialized once and every base table is
    only probed through a broadcast: after an action the final plans of
    the merged cell tables hold no SortMergeJoin, and node_cells runs
    exactly one Python UDF (the point-box fallback; the way-cell UDF ran
    once, inside the materialized new way cells)."""
    nodes, way_refs, wc, nc = (
        df.localCheckpoint(eager=True) for df in base
    )
    changes = spark.createDataFrame(
        [(1, 1, "modify", -5_500_000, 505_500_000),
         (7, 1, "delete", None, None),
         (100, 1, "create", 9_000_000, 519_000_000)],
        "node_id long, seq long, change_type string, lon long, lat long",
    )
    out = calc_update_tiles(nodes, way_refs, wc, nc, changes)
    plans = {}
    for name in ("way_cells", "node_cells"):
        df = out[name]
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the adaptive plan prints its initial plan after the final one
        plans[name] = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in plans[name], plans[name]
    assert plans["way_cells"].count("ArrowEvalPython") == 0
    assert plans["node_cells"].count("ArrowEvalPython") == 1


def test_store_commit_and_resume(spark, base, tmp_path):
    from osmquadtree_depreceated_spark.plans.lineage import SnapshotStore

    nodes, way_refs, wc, nc = base
    changes = spark.createDataFrame(
        [(3, 1, "modify", 3_200_000, 515_200_000)],
        "node_id long, seq long, change_type string, lon long, lat long",
    )
    store = SnapshotStore(str(tmp_path))
    out = calc_update_tiles(nodes, way_refs, wc, nc, changes,
                            store=store, batch_id="b42")
    assert store.has("way_cells@b42") and store.has("node_cells@b42")
    # resume: a second run reads the committed snapshot (no recompute)
    again = calc_update_tiles(nodes, way_refs, wc, nc, changes,
                              store=store, batch_id="b42")
    assert (
        {tuple(r) for r in again["way_cells"].collect()}
        == {tuple(r) for r in out["way_cells"].collect()}
    )
    rows = store.lineage_rows("way_cells@b42")
    assert rows and all(r["row_count"] >= 0 for r in rows)


def test_streaming_update_tiles_equals_full_recompute(spark, base, tmp_path):
    """Round-3: 3 change micro-batches streamed through calc_update_tiles
    (stream_update_tiles) converge to exactly the tables a single full
    recompute over the fully-merged input produces (the q33 oracle rule),
    with one committed snapshot chain per batch."""
    import time

    from osmquadtree_depreceated_spark.plans.lineage import SnapshotStore
    from osmquadtree_depreceated_spark.streaming.changes import (
        stream_update_tiles,
    )

    from osmquadtree_depreceated_spark.operators.tile_groups import (
        tile_pyramid,
    )

    nodes, way_refs, wc, nc = base
    store = SnapshotStore(str(tmp_path / "store"))
    store.write(spark, "upd_nodes", nodes, None)
    store.write(spark, "upd_wc", wc, "cell")
    store.write(spark, "upd_nc", nc, "cell")
    store.write(spark, "upd_pyr",
                tile_pyramid(wc, "cell", 18, sum_cols=("way_id",)), "level")

    batches = [
        [(1, 1, "modify", -5_500_000, 505_500_000)],
        [(7, 2, "delete", None, None),
         (100, 2, "create", 9_000_000, 519_000_000)],
        [(100, 3, "modify", 9_100_000, 519_100_000),
         (3, 3, "modify", 3_200_000, 515_200_000)],
    ]
    schema = "node_id long, seq long, change_type string, lon long, lat long"
    feed = tmp_path / "feed"
    feed.mkdir()
    for i, rows in enumerate(batches):
        # one file per micro-batch; increasing mtimes keep source order
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(feed / f"b{i}")
        )
        time.sleep(0.05)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    q = stream_update_tiles(
        spark, store, "upd", way_refs, stream,
        str(tmp_path / "ckpt"), maintain_pyramid=True,
    )
    q.awaitTermination(120)

    # at least one committed batch chain, and the LATEST snapshots equal a
    # full recompute over the cumulative merged nodes
    committed = [s for s in range(8) if store.has(f"upd_nodes@s{s}")]
    assert committed, "no streaming batch committed"
    from osmquadtree_depreceated_spark.streaming.changes import (
        _latest_stage,
    )

    final_nodes = store.read(spark, _latest_stage(store, "upd_nodes"))
    final_wc = store.read(spark, _latest_stage(store, "upd_wc"))
    final_nc = store.read(spark, _latest_stage(store, "upd_nc"))

    # expected: batch-mode sequential application of the same batches
    cur_n, cur_wc, cur_nc = nodes, wc, nc
    for rows in batches:
        ch = spark.createDataFrame(rows, schema)
        out = calc_update_tiles(cur_n, way_refs, cur_wc, cur_nc, ch)
        cur_n, cur_wc, cur_nc = (
            out["nodes"], out["way_cells"], out["node_cells"],
        )
    want_n = {r["node_id"]: (r["lon"], r["lat"]) for r in cur_n.collect()}
    got_n = {r["node_id"]: (r["lon"], r["lat"])
             for r in final_nodes.collect()}
    assert got_n == want_n
    # and the incremental tables equal the FULL recompute over merged input
    want_w, want_nc_ = _full(spark, final_nodes, way_refs)
    got_w = {r["way_id"]: r["cell"] for r in final_wc.collect()}
    got_nc = {r["node_id"]: r["cell"] for r in final_nc.collect()}
    assert got_w == want_w
    assert got_nc == want_nc_
    # per-batch affected-tile sets committed alongside
    for s in committed:
        assert store.has(f"upd_tiles@s{s}")
        assert store.has(f"upd_pyr@s{s}")
    # the incrementally-maintained pyramid equals a recompute over the
    # final way-cell table (q69's rule, held across every batch)
    from osmquadtree_depreceated_spark.streaming.changes import (
        _latest_stage as _ls,
    )

    final_pyr = store.read(spark, _ls(store, "upd_pyr"))
    want_pyr = tile_pyramid(final_wc, "cell", 18, sum_cols=("way_id",))
    assert ({tuple(r) for r in final_pyr.collect()}
            == {tuple(r) for r in want_pyr.collect()})


def test_streaming_osc_wire_format_update_tiles(spark, base, tmp_path):
    """Round-3: REAL wire-format streaming — gzipped .osc replication
    diffs land in a directory, a binaryFile stream parses them
    executor-side (parse_osc_content) and drives calc_update_tiles per
    micro-batch; the final snapshots equal a full recompute."""
    import gzip
    import time

    from osmquadtree_depreceated_spark.plans.lineage import SnapshotStore
    from osmquadtree_depreceated_spark.sources.osc import (
        osc_node_changes,
        parse_osc_content,
    )
    from osmquadtree_depreceated_spark.streaming.changes import (
        _latest_stage,
        stream_update_tiles,
    )

    nodes, way_refs, wc, nc = base
    store = SnapshotStore(str(tmp_path / "store"))
    store.write(spark, "osc_nodes", nodes, None)
    store.write(spark, "osc_wc", wc, "cell")
    store.write(spark, "osc_nc", nc, "cell")

    # two wire-format diffs: modify node 1, then delete 7 + create 100
    # (coords in float degrees; ftoi turns them into the fixed-point ints)
    d1 = (b"<?xml version='1.0'?><osmChange version=\"0.6\">"
          b"<modify><node id=\"1\" version=\"1\" changeset=\"5\""
          b" lat=\"50.55\" lon=\"-0.55\"/></modify></osmChange>")
    d2 = (b"<?xml version='1.0'?><osmChange version=\"0.6\">"
          b"<delete><node id=\"7\" version=\"2\" changeset=\"6\""
          b" lat=\"51.0\" lon=\"0.0\"/></delete>"
          b"<create><node id=\"100\" version=\"1\" changeset=\"6\""
          b" lat=\"51.9\" lon=\"0.9\"/></create></osmChange>")
    feed = tmp_path / "oscfeed"
    feed.mkdir()
    (feed / "000001.osc").write_bytes(d1)
    time.sleep(0.05)
    (feed / "000002.osc.gz").write_bytes(gzip.compress(d2))

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("maxFilesPerTrigger", 1)
        .load(str(feed))
    )
    q = stream_update_tiles(
        spark, store, "osc", way_refs, stream, str(tmp_path / "ckpt"),
        transform=lambda b: osc_node_changes(parse_osc_content(b)),
    )
    q.awaitTermination(120)

    final_nodes = store.read(spark, _latest_stage(store, "osc_nodes"))
    got_n = {r["node_id"]: (r["lon"], r["lat"])
             for r in final_nodes.collect()}
    assert got_n[1] == (-5_500_000, 505_500_000)  # ftoi of -0.55/50.55
    assert 7 not in got_n and 100 in got_n
    assert got_n[100] == (9_000_000, 519_000_000)
    # incremental tables equal the full recompute over the merged nodes
    want_w, want_nc_ = _full(spark, final_nodes, way_refs)
    final_wc = store.read(spark, _latest_stage(store, "osc_wc"))
    final_nc = store.read(spark, _latest_stage(store, "osc_nc"))
    got_w = {r["way_id"]: r["cell"] for r in final_wc.collect()}
    got_nc = {r["node_id"]: r["cell"] for r in final_nc.collect()}
    assert got_w == want_w
    assert got_nc == want_nc_


def test_missing_node_cap(spark):
    # reference corruption guard (update.go:425-437): way members with no
    # location after the merge are counted; a cap turns the count into a
    # hard failure instead of a silent way drop
    from osmquadtree_depreceated_spark.operators.update import (
        calc_update_tiles,
    )

    nodes = spark.createDataFrame(
        [(1, 100, 100), (2, 200, 200)], ["node_id", "lon", "lat"]
    )
    way_refs = spark.createDataFrame(
        [(10, 0, 1), (10, 1, 2)], ["way_id", "pos", "ref"]
    )
    wc = spark.createDataFrame([(10, 5)], ["way_id", "cell"])
    nc = spark.createDataFrame([(1, 5), (2, 5)], ["node_id", "cell"])
    # delete node 2 while way 10 still references it -> 1 missing ref
    changes = spark.createDataFrame(
        [(2, 1, "delete", 0, 0)],
        ["node_id", "seq", "change_type", "lon", "lat"],
    )
    out = calc_update_tiles(nodes, way_refs, wc, nc, changes)
    # missing_refs is returned lazily (no Spark action unless counted)
    assert out["missing_refs"].count() == 1
    with pytest.raises(RuntimeError, match="missing nodes"):
        calc_update_tiles(nodes, way_refs, wc, nc, changes,
                          missing_node_cap=1)


def test_streaming_pyramid_survives_replay_after_wc_commit(
        spark, base, tmp_path):
    """Crash-replay hole regression: if a batch's wc@s0 stage committed
    but the pyramid stage (and the nodes commit marker) did not, the
    replay must compute the delta against the wc stage PAIRED with the
    pyramid's latest stage — a delta against the global-latest wc (the
    already-post-batch wc@s0) nets to zero and silently drops the batch
    from the pyramid forever."""
    import time

    from osmquadtree_depreceated_spark.operators.tile_groups import (
        tile_pyramid,
    )
    from osmquadtree_depreceated_spark.plans.lineage import SnapshotStore
    from osmquadtree_depreceated_spark.streaming.changes import (
        _latest_stage,
        stream_update_tiles,
    )

    nodes, way_refs, wc, nc = base
    store = SnapshotStore(str(tmp_path / "store"))
    store.write(spark, "rep_nodes", nodes, None)
    store.write(spark, "rep_wc", wc, "cell")
    store.write(spark, "rep_nc", nc, "cell")
    store.write(spark, "rep_pyr",
                tile_pyramid(wc, "cell", 18, sum_cols=("way_id",)),
                "level")

    rows = [(1, 1, "modify", -5_500_000, 505_500_000),
            (7, 1, "delete", None, None)]
    schema = "node_id long, seq long, change_type string, lon long, lat long"
    ch = spark.createDataFrame(rows, schema)

    # simulate the crash window: the batch's post-change wc stage is
    # already committed, the pyramid stage and the nodes marker are not
    out = calc_update_tiles(nodes, way_refs, wc, nc, ch)
    store.write(spark, "rep_wc@s0", out["way_cells"], "cell")

    feed = tmp_path / "feed"
    feed.mkdir()
    ch.coalesce(1).write.parquet(str(feed / "b0"))
    time.sleep(0.05)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(feed / "*")))
    q = stream_update_tiles(spark, store, "rep", way_refs, stream,
                            str(tmp_path / "ckpt"), maintain_pyramid=True)
    assert q.awaitTermination(120)
    assert store.has("rep_nodes@s0")

    got = {tuple(r) for r in store.read(
        spark, _latest_stage(store, "rep_pyr")).collect()}
    want = {tuple(r) for r in tile_pyramid(
        out["way_cells"], "cell", 18, sum_cols=("way_id",)).collect()}
    assert got == want
