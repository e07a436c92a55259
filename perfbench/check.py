"""Output checks that do not run engine code.

Expected values come from the generator's ground truth through independent
oracles: the DuckDB unrolled descent (oracle.duck_calc) for cells, the
scalar reference port (qtcore.scalar_ref) for Common folds and pnpoly, and
NumPy brute force for window and kNN queries.  Engine outputs are read back
from the written parquet with pyarrow.  Every check returns a list of
mismatch descriptions; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmquadtree_depreceated_spark.oracle.duck_calc import calculate_cte_sql
from osmquadtree_depreceated_spark.qtcore import scalar_ref

import gen
from engine import BUFFER, MAX_LEVEL


def duck_cells(minx, miny, maxx, maxy) -> np.ndarray:
    """Buffered cells of bboxes through the DuckDB oracle."""
    n = len(minx)
    if n == 0:
        return np.zeros(0, np.int64)
    t = pa.table({"k": np.arange(n, dtype=np.int64), "minx": minx,
                  "miny": miny, "maxx": maxx, "maxy": maxy})
    con = duckdb.connect()
    try:
        con.register("boxes", t)
        sql = calculate_cte_sql("select * from boxes", "k", BUFFER, MAX_LEVEL)
        got = con.execute(
            f"select k, cell from ({sql}) order by k").fetchnumpy()
    finally:
        con.close()
    return np.asarray(got["cell"], np.int64)


def _common_fold(keys: np.ndarray, cells: np.ndarray, n: int) -> np.ndarray:
    """Common over the cells of each key in 0..n-1 (-1 where a key has
    none), folded with the scalar reference."""
    out = np.full(n, -1, np.int64)
    order = np.argsort(keys, kind="stable")
    for k, c in zip(keys[order].tolist(), cells[order].tolist()):
        out[k] = scalar_ref.common(int(out[k]), c)
    return out


def oracle_cells(truth: dict) -> dict:
    """Expected way, node and relation cells for the alive elements of
    `truth` (the calcqts contract: way = Calculate(bbox); node = Common of
    parent-way cells, else the point-box cell; relation = Common of member
    cells).  Arrays are indexed by id - 1; dead nodes hold -2;
    `has_parent` marks nodes that some way references."""
    way = duck_cells(*gen.way_bboxes(truth))
    refs, off = truth["way_refs"], truth["way_off"]
    owner = np.repeat(np.arange(len(off) - 1), np.diff(off))
    n_nodes = len(truth["lon"])
    node = _common_fold(refs - 1, way[owner], n_nodes)
    has_parent = node >= 0
    alive = truth.get("alive", np.ones(n_nodes, bool))
    lone = np.nonzero((node < 0) & alive)[0]
    lon, lat = truth["lon"][lone], truth["lat"][lone]
    node[lone] = duck_cells(lon, lat, lon + 1, lat + 1)
    node[~alive] = -2
    mt, mref, roff = truth["rel_mtype"], truth["rel_ref"], truth["rel_off"]
    m_rel = np.repeat(np.arange(len(roff) - 1), np.diff(roff))
    member = np.where(mt == "n", node[np.minimum(mref, n_nodes) - 1],
                      way[np.minimum(mref, len(way)) - 1])
    rel = _common_fold(m_rel, member, len(roff) - 1)
    return {"way": way, "node": node, "rel": rel, "has_parent": has_parent}


def read_table(path: str, columns: list) -> pa.Table:
    """All parquet files under `path` (partition directories included),
    read without the engine."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    return pa.concat_tables([pq.read_table(f, columns=columns)
                             for f in files]) if files else None


def _compare_cells(label: str, ids, cells, want: np.ndarray) -> list:
    ids = np.asarray(ids, np.int64)
    cells = np.asarray(cells, np.int64)
    expect_ids = np.nonzero(want != -2)[0] + 1
    if len(ids) != len(np.unique(ids)):
        return [f"{label}: duplicate ids"]
    if not np.array_equal(np.sort(ids), expect_ids):
        return [f"{label}: {len(ids)} ids, expected {len(expect_ids)}"]
    bad = np.nonzero(want[ids - 1] != cells)[0]
    if len(bad):
        i = bad[0]
        return [f"{label}: {len(bad)} cells differ, e.g. id {ids[i]} "
                f"{cells[i]} != {want[ids[i] - 1]}"]
    return []


def check_store_cells(store_root: str, stages: dict, want: dict) -> list:
    """Compare snapshot stages (way_cells / node_cells / rel_cells names in
    `stages`) with the oracle."""
    errs = []
    for kind, (stage, id_col) in stages.items():
        t = read_table(os.path.join(store_root, stage), [id_col, "cell"])
        if t is None:
            errs.append(f"{stage}: no data")
            continue
        errs += _compare_cells(stage, t[id_col].to_numpy(),
                               t["cell"].to_numpy(), want[kind])
    return errs


def check_tiles(tiles: str, truth: dict, want: dict, checksums: dict) -> list:
    """The tiled store holds each way and node once, with its cell, its
    bbox and its input doc's spans (checksum equality, the span-sequence
    invariant)."""
    t = read_table(tiles, ["etype", "id", "doc_id", "spans", "cell", "minx",
                           "miny", "maxx", "maxy"])
    if t is None:
        return ["tiles: no data"]
    etype = t["etype"].to_numpy(zero_copy_only=False)
    ids = t["id"].to_numpy()
    errs = []
    bb = dict(zip(("minx", "miny", "maxx", "maxy"), gen.way_bboxes(truth)))
    for e, key, docs in (("w", "way", truth["doc_way"]),
                         ("n", "node", truth["doc_node"])):
        m = etype == e
        errs += _compare_cells(f"tiles[{e}]", ids[m], t["cell"].to_numpy()[m],
                               want[key])
        if errs:
            return errs
        got_doc = t["doc_id"].to_numpy(zero_copy_only=False)[m]
        if not np.array_equal(got_doc, docs[ids[m] - 1]):
            errs.append(f"tiles[{e}]: doc_id does not match its element")
        for c in ("minx", "miny", "maxx", "maxy"):
            ref = bb[c] if e == "w" else (
                truth["lon"] if c[-1] == "x" else truth["lat"])
            if not np.array_equal(t[c].to_numpy()[m], ref[ids[m] - 1]):
                errs.append(f"tiles[{e}]: {c} differs")
    got = gen.spans_checksums(t["spans"].combine_chunks())
    doc = t["doc_id"].to_pylist()
    bad = sum(1 for d, c in zip(doc, got) if checksums[d] != c)
    if bad:
        errs.append(f"tiles: {bad} rows' spans_checksum differ from input")
    return errs


def bbox_hits(truth: dict, box) -> set:
    """(etype, id) of every way whose bbox and node whose point intersects
    `box` (inclusive edges)."""
    qx0, qy0, qx1, qy1 = box
    mnx, mny, mxx, mxy = gen.way_bboxes(truth)
    w = np.nonzero((mnx <= qx1) & (mny <= qy1) & (mxx >= qx0)
                   & (mxy >= qy0))[0] + 1
    lon, lat = truth["lon"], truth["lat"]
    n = np.nonzero((lon >= qx0) & (lon <= qx1) & (lat >= qy0)
                   & (lat <= qy1))[0] + 1
    return {("w", int(i)) for i in w} | {("n", int(i)) for i in n}


def check_bbox(rows: list, truth: dict, box) -> list:
    """rows: (etype, id, decoded point count).  Ids must equal brute force,
    and each way's decoded blob must hold its ref count."""
    got = {(r[0], int(r[1])) for r in rows}
    if len(got) != len(rows):
        return ["bbox: duplicate rows"]
    want = bbox_hits(truth, box)
    if got != want:
        return [f"bbox {box}: {len(got ^ want)} ids differ "
                f"({len(got)} got, {len(want)} expected)"]
    off = truth["way_off"]
    for e, i, npts in rows:
        if e == "w" and npts != off[i] - off[i - 1]:
            return [f"bbox: way {i} decoded {npts} points, has "
                    f"{off[i] - off[i - 1]}"]
        if e == "n" and npts is not None:
            return [f"bbox: node {i} decoded a geometry"]
    return []


def check_polygon(ids: list, truth: dict, lons, lats) -> list:
    lon, lat = truth["lon"], truth["lat"]
    cand = np.nonzero((lon >= lons.min()) & (lon <= lons.max())
                      & (lat >= lats.min()) & (lat <= lats.max()))[0]
    pl, pt = lons.tolist(), lats.tolist()
    want = {int(i) + 1 for i in cand
            if scalar_ref.point_in_poly(pl, pt, int(lon[i]), int(lat[i]))}
    got = set(int(i) for i in ids)
    if got != want or len(ids) != len(got):
        return [f"polygon: {len(got ^ want)} ids differ"]
    return []


def check_knn(rows: list, truth: dict, qlon: int, qlat: int, k: int) -> list:
    """rows: (rank, id).  Exact kNN on integer coords, ties by id."""
    d2 = (truth["lon"] - qlon) ** 2 + (truth["lat"] - qlat) ** 2
    order = np.lexsort((np.arange(len(d2)), d2))[:k] + 1
    got = [int(r[1]) for r in sorted(rows)]
    if got != order.tolist():
        return [f"knn: {got} != {order.tolist()}"]
    return []


def apply_changes(truth: dict, changes) -> dict:
    """Ground truth after one change batch (Delete/Modify/Create)."""
    node, ctype, lon, lat = changes
    t = dict(truth)
    n_new = int((ctype == "create").sum())
    t["lon"] = np.concatenate([truth["lon"], np.zeros(n_new, np.int64)])
    t["lat"] = np.concatenate([truth["lat"], np.zeros(n_new, np.int64)])
    t["alive"] = np.concatenate([truth["alive"], np.ones(n_new, bool)])
    upd = ctype != "delete"
    t["lon"][node[upd] - 1] = lon[upd]
    t["lat"][node[upd] - 1] = lat[upd]
    t["alive"][node[ctype == "delete"] - 1] = False
    return t
