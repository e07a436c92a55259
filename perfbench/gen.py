"""Seeded, vectorized input generator for the engine benchmark.

Everything here is NumPy/pyarrow over whole arrays; nothing is timed.  The
same (size, seed) gives byte-identical outputs.

Docs follow the FIXTURES.md section 1 encoding and proportions (75% nodes,
20% ways, 5% relations; 0-4 tag spans, an info span on 70% of docs and 0-2
media spans per doc; 30% of nodes in 3 hotspots), but ways are *local*: each
way draws its nodes around one anchor, with a half-extent that is
log-uniform over roughly 0.0002-0.02 degrees, plus a 3% share of long ways
(0.05-0.5 degrees).  So way cells spread over depths of about 8-18 the way
real ways do, instead of sitting at depth 4-5 as they do when refs are drawn
uniformly over all nodes.  Ways come in chains around one anchor (a chained
way starts at the previous way's last node), which gives nodes with two
parent ways; the nodes that no way uses are standalone points.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from osmquadtree_depreceated_spark.sources.docs import (
    _TAG_KEYS,
    _TAG_VALS,
    _USERS,
)

LON_RANGE = (-10_000_000, 10_000_000)
LAT_RANGE = (500_000_000, 520_000_000)
CITIES = np.array([(-5_000_000, 505_000_000), (3_000_000, 515_000_000),
                   (8_000_000, 511_000_000)], dtype=np.int64)
CITY_RADIUS = 200_000
HOTSPOT_FRAC = 0.3
CHAIN_FRAC = 0.4
LONG_WAY_FRAC = 0.03
RING_FRAC = 0.1

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_ARROW_SCHEMA = pa.schema([("doc_id", pa.string()),
                               ("spans", pa.list_(SPAN_TYPE))])


def _points(rng, n):
    """n fixed-point (lon, lat) points, HOTSPOT_FRAC of them in a city."""
    hot = rng.random(n) < HOTSPOT_FRAC
    city = CITIES[rng.integers(0, len(CITIES), n)]
    off = rng.integers(-CITY_RADIUS, CITY_RADIUS, (n, 2))
    lon = np.where(hot, city[:, 0] + off[:, 0],
                   rng.integers(LON_RANGE[0], LON_RANGE[1], n))
    lat = np.where(hot, city[:, 1] + off[:, 1],
                   rng.integers(LAT_RANGE[0], LAT_RANGE[1], n))
    return lon.astype(np.int64), lat.astype(np.int64)


def _log_uniform(rng, lo, hi, n):
    return np.exp(rng.uniform(np.log(lo), np.log(hi), n))


def _str(a) -> pa.Array:
    return pa.array(np.asarray(a)).cast(pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _hex16(u: np.ndarray) -> pa.Array:
    """Zero-padded 16-digit lowercase hex of each uint64."""
    digits = (u[:, None] >> (np.arange(15, -1, -1, dtype=np.uint64) * 4)
              ) & np.uint64(15)
    table = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    raw = table[digits.astype(np.int64)].astype(np.uint8)
    return pa.array(raw.view("S16").ravel()).cast(pa.string())


def _join_lists(offsets: np.ndarray, values: pa.Array, sep: str) -> pa.Array:
    lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)
    return pc.binary_join(lists, sep)


def generate(n_docs: int, seed: int) -> dict:
    """Generate a docs table and its ground truth.

    Returns a dict with:
      docs        pyarrow Table docs(doc_id, spans) in the FIXTURES encoding
      node_id, lon, lat                 int64 arrays (node_id = 1..n)
      way_id, way_off, way_refs         ways as CSR: refs of way i are
                                        way_refs[way_off[i]:way_off[i+1]]
      rel_id, rel_off, rel_mtype, rel_ref   relation members as CSR
      doc_node, doc_way, doc_rel        doc_id string per element
    """
    rng = np.random.default_rng(seed)
    n_ways = max(int(round(n_docs * 0.20)), 2)
    n_rels = max(int(round(n_docs * 0.05)), 2)
    n_nodes_target = n_docs - n_ways - n_rels

    # ---- ways: chains of local ways around an anchor
    k = rng.integers(2, 6, n_ways)                     # refs before closing
    chained = rng.random(n_ways) < CHAIN_FRAC
    chained[0] = False
    own = k - chained                                  # nodes a way creates
    idx = np.arange(n_ways)
    root = np.maximum.accumulate(np.where(chained, 0, idx))
    a_lon, a_lat = _points(rng, n_ways)
    a_lon, a_lat = a_lon[root], a_lat[root]
    long_way = rng.random(n_ways) < LONG_WAY_FRAC
    half = np.where(long_way, _log_uniform(rng, 500_000, 5_000_000, n_ways),
                    _log_uniform(rng, 2_000, 200_000, n_ways))

    n_way_nodes = int(own.sum())
    n_free = max(n_nodes_target - n_way_nodes, n_nodes_target // 10)
    n_nodes = n_way_nodes + n_free
    slot_way = np.repeat(idx, own)
    jitter = rng.uniform(-1.0, 1.0, (n_way_nodes, 2))
    wn_lon = a_lon[slot_way] + (jitter[:, 0] * half[slot_way]).astype(np.int64)
    wn_lat = a_lat[slot_way] + (jitter[:, 1] * half[slot_way]).astype(np.int64)
    f_lon, f_lat = _points(rng, n_free)
    lon = np.clip(np.concatenate([wn_lon, f_lon]), *LON_RANGE)
    lat = np.clip(np.concatenate([wn_lat, f_lat]), *LAT_RANGE)
    # node ids are a permutation so that id order carries no locality
    perm = rng.permutation(n_nodes)
    slot_id = (perm + 1).astype(np.int64)              # node id of each slot
    node_id = np.arange(1, n_nodes + 1, dtype=np.int64)
    lon_by_id = np.empty(n_nodes, np.int64)
    lat_by_id = np.empty(n_nodes, np.int64)
    lon_by_id[perm], lat_by_id[perm] = lon, lat

    own_off = np.concatenate([[0], np.cumsum(own)])
    ring = (rng.random(n_ways) < RING_FRAC) & (k >= 4)
    n_refs = k + ring
    way_off = np.concatenate([[0], np.cumsum(n_refs)]).astype(np.int64)
    way_refs = np.empty(int(way_off[-1]), np.int64)
    # a chained way's first ref is the previous way's last created node
    first = way_off[:-1]
    prev_last = slot_id[np.maximum(own_off[1:] - 1, 0)]
    way_refs[first[chained]] = np.roll(prev_last, 1)[chained]
    own_pos = (np.repeat(first + chained, own)
               + np.arange(n_way_nodes) - np.repeat(own_off[:-1], own))
    way_refs[own_pos] = slot_id[:n_way_nodes]
    way_refs[way_off[1:][ring] - 1] = way_refs[first[ring]]
    way_id = np.arange(1, n_ways + 1, dtype=np.int64)

    # ---- relations: node and way members near one anchor way.  No
    # relation has a relation member: one rel->rel edge makes the engine run
    # its 5-round closure, whose fixed cost in a fresh JVM (~35 s measured
    # on 4 cores) would not fit the benchmark's time budget on its own.
    n_mem = rng.integers(1, 6, n_rels)
    rel_off = np.concatenate([[0], np.cumsum(n_mem)]).astype(np.int64)
    m_rel = np.repeat(np.arange(n_rels), n_mem)
    n_m = int(rel_off[-1])
    anchor = rng.integers(0, n_ways, n_rels)[m_rel]
    rel_mtype = np.where(rng.random(n_m) < 0.3, "n", "w")
    w_ref = np.minimum(anchor + rng.integers(0, 8, n_m), n_ways - 1)
    pick = way_off[w_ref] + (rng.random(n_m) * n_refs[w_ref]).astype(np.int64)
    rel_ref = np.where(rel_mtype == "n", way_refs[pick], w_ref + 1)
    role = np.array(["outer", "inner", ""])[rng.integers(0, 3, n_m)]
    rel_id = np.arange(1, n_rels + 1, dtype=np.int64)

    # ---- element span texts
    node_text = _cat(_str(node_id), " ", _str(lon_by_id), " ", _str(lat_by_id))
    way_text = _cat(_str(way_id), " ",
                    _join_lists(way_off, _str(way_refs), ","))
    mem_text = _cat(pa.array(rel_mtype), ":", _str(rel_ref), ":",
                    pa.array(role))
    rel_text = _cat(_str(rel_id), " ", _join_lists(rel_off, mem_text, ";"))
    n_el = n_nodes + n_ways + n_rels
    el_kind = np.repeat(["node", "way", "relation"], [n_nodes, n_ways, n_rels])
    el_text = pa.concat_arrays([node_text, way_text, rel_text])

    # ---- payload spans: tags (distinct keys), info, media
    n_tags = rng.integers(0, 5, n_el)
    key_rank = np.argsort(rng.random((n_el, len(_TAG_KEYS) - 2)), axis=1)
    tag_mask = np.arange(len(_TAG_KEYS) - 2)[None, :] < n_tags[:, None]
    tag_doc = np.nonzero(tag_mask)[0]
    tag_key = np.array(_TAG_KEYS)[key_rank[tag_mask]]
    tag_val = np.array(_TAG_VALS)[
        rng.integers(0, len(_TAG_VALS), len(tag_doc))]
    tag_text = _cat(pa.array(tag_key), "=", pa.array(tag_val))

    info_doc = np.nonzero(rng.random(n_el) < 0.7)[0]
    n_info = len(info_doc)
    info_text = _cat(
        _str(rng.integers(1, 9, n_info)), " ",
        _str(1_400_000_000 + rng.integers(0, 10_000_000, n_info)), " ",
        _str(rng.integers(1, 100_000, n_info)), " ",
        _str(rng.integers(1, 1000, n_info)), " ",
        pa.array(np.array(_USERS)[rng.integers(0, len(_USERS), n_info)]))

    media_doc = np.repeat(np.arange(n_el), rng.integers(0, 3, n_el))
    h = _hex16(rng.integers(0, 2**63, len(media_doc), dtype=np.uint64))
    media_text = _cat("caption ", pc.utf8_slice_codeunits(h, 0, 6))
    media_ref = _cat("m://", h)

    n_tag, n_media = len(tag_doc), len(media_doc)
    s_doc = np.concatenate([np.arange(n_el), tag_doc, info_doc, media_doc])
    s_kind = np.concatenate([el_kind, np.repeat(["tag", "info", "media"],
                                                [n_tag, n_info, n_media])])
    s_text = pa.concat_arrays([el_text, tag_text, info_text, media_text])
    s_media = pa.concat_arrays([
        pa.array(np.full(n_el + n_tag + n_info, ""), pa.string()), media_ref])
    # the element span leads; the payload spans follow in seeded order
    s_key = np.concatenate([np.full(n_el, -1.0),
                            rng.random(n_tag + n_info + n_media)])
    order = np.lexsort((s_key, s_doc))
    counts = np.bincount(s_doc, minlength=n_el)
    doc_off = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    offset = (np.arange(len(order)) - np.repeat(doc_off[:-1], counts))
    spans = pa.StructArray.from_arrays(
        [pa.array(s_kind[order]), s_text.take(pa.array(order)),
         s_media.take(pa.array(order)), pa.array(offset, pa.int32())],
        fields=list(SPAN_TYPE))
    doc_ids = _cat("d", pc.utf8_lpad(_str(np.arange(n_el)), 10, "0"))
    docs = pa.Table.from_arrays(
        [doc_ids, pa.ListArray.from_arrays(pa.array(doc_off), spans)],
        schema=DOCS_ARROW_SCHEMA)

    doc_np = np.asarray(doc_ids.to_numpy(zero_copy_only=False))
    return {
        "docs": docs,
        "node_id": node_id, "lon": lon_by_id, "lat": lat_by_id,
        "way_id": way_id, "way_off": way_off, "way_refs": way_refs,
        "rel_id": rel_id, "rel_off": rel_off, "rel_mtype": rel_mtype,
        "rel_ref": rel_ref,
        "doc_node": doc_np[:n_nodes],
        "doc_way": doc_np[n_nodes:n_nodes + n_ways],
        "doc_rel": doc_np[n_nodes + n_ways:],
    }


def way_bboxes(truth: dict):
    """(minx, miny, maxx, maxy) per way over its member nodes."""
    off, refs = truth["way_off"], truth["way_refs"]
    lon, lat = truth["lon"][refs - 1], truth["lat"][refs - 1]
    starts = off[:-1]
    return (np.minimum.reduceat(lon, starts), np.minimum.reduceat(lat, starts),
            np.maximum.reduceat(lon, starts), np.maximum.reduceat(lat, starts))


def spans_checksums(spans: pa.ListArray) -> list:
    """Per-row checksum of a span sequence on (kind, text, media_ref) in
    offset order: sha256 of the fields joined by U+0001 within a span and
    spans joined by U+0002 (the definition of sources.docs.spans_checksum,
    restated here so the check does not run engine code)."""
    flat = spans.flatten()
    lens = np.diff(spans.offsets.to_numpy())
    row = np.repeat(np.arange(len(spans)), lens)
    order = np.lexsort((flat.field("offset").to_numpy(), row))
    fl = flat.take(pa.array(order))
    one = pc.binary_join_element_wise(
        fl.field("kind"), fl.field("text"), fl.field("media_ref"), "\u0001")
    payload = _join_lists(spans.offsets.to_numpy(), one, "\u0002")
    return [hashlib.sha256(p.encode()).hexdigest()
            for p in payload.to_pylist()]


def node_changes(truth: dict, n_changes: int, batch: int, seed: int,
                 next_id: int):
    """One seeded node-change batch as arrays (node_id, change_type, lon,
    lat); deletes carry lon = lat = 0.

    Two thirds of the modified nodes are picked among hotspot nodes.  About
    70% are modifies (moved by up to 0.002 degrees), 15% deletes of nodes no
    way references, 15% creates of new ids starting at `next_id`."""
    rng = np.random.default_rng([seed, batch])
    lon, lat = truth["lon"], truth["lat"]
    alive = truth["alive"]
    in_way = np.zeros(len(lon) + 1, bool)
    in_way[truth["way_refs"]] = True
    hot = np.zeros(len(lon), bool)
    for cx, cy in CITIES:
        hot |= ((np.abs(lon - cx) <= CITY_RADIUS)
                & (np.abs(lat - cy) <= CITY_RADIUS))
    n_create = max(int(round(n_changes * 0.15)), 1)
    n_delete = int(round(n_changes * 0.15))
    n_modify = max(n_changes - n_create - n_delete, 1)
    ids = np.nonzero(alive)[0] + 1
    hot_ids = ids[hot[ids - 1]]
    n_hot = min(2 * n_modify // 3, len(hot_ids))
    mod = np.unique(np.concatenate([
        rng.choice(hot_ids, n_hot, replace=False),
        rng.choice(ids, n_modify - n_hot, replace=False)]))
    free_ids = ids[~in_way[ids]]
    free_ids = np.setdiff1d(free_ids, mod)
    dele = rng.choice(free_ids, min(n_delete, len(free_ids)), replace=False)
    new = np.arange(next_id, next_id + n_create, dtype=np.int64)
    c_lon, c_lat = _points(rng, n_create)
    move = rng.integers(-20_000, 20_000, (len(mod), 2))
    m_lon = np.clip(lon[mod - 1] + move[:, 0], *LON_RANGE)
    m_lat = np.clip(lat[mod - 1] + move[:, 1], *LAT_RANGE)
    node = np.concatenate([mod, dele, new]).astype(np.int64)
    ctype = np.repeat(["modify", "delete", "create"],
                      [len(mod), len(dele), n_create])
    out_lon = np.concatenate([m_lon, np.zeros(len(dele), np.int64), c_lon])
    out_lat = np.concatenate([m_lat, np.zeros(len(dele), np.int64), c_lat])
    return node, ctype, out_lon.astype(np.int64), out_lat.astype(np.int64)


# Kinds of serving queries, repeated every 20: 60% small windows on
# hotspots (H), 20% small windows elsewhere (S), 10% large windows (L), 5%
# polygons (P), 5% kNN (K).  A fixed order, not a seeded draw: a run holds
# about 13 queries, and a seeded draw of kinds makes one run's mix (and so
# its median) differ from the next run's.  The slow kinds come first, so
# every run holds each kind once and its tail is small windows.
KIND_CYCLE = "KHPHSLHHSHHHSHLHHSHH"


def query_mix(truth: dict, n: int, seed: int) -> list:
    """Seeded serving queries in the KIND_CYCLE order of kinds; the seed
    draws where each query looks and how large it is (kNN: k=5).  Each
    query is a dict with a 'kind' and its parameters."""
    rng = np.random.default_rng([seed, 7])
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        if kind == "H":
            c = CITIES[rng.integers(0, len(CITIES))]
            cx = int(c[0] + rng.integers(-CITY_RADIUS, CITY_RADIUS))
            cy = int(c[1] + rng.integers(-CITY_RADIUS, CITY_RADIUS))
            out.append(_window("bbox_hot", cx, cy, rng, 5_000, 30_000))
        elif kind == "S":
            cx = int(rng.integers(*LON_RANGE))
            cy = int(rng.integers(*LAT_RANGE))
            out.append(_window("bbox_small", cx, cy, rng, 5_000, 30_000))
        elif kind == "L":
            cx = int(rng.integers(*LON_RANGE))
            cy = int(rng.integers(*LAT_RANGE))
            out.append(_window("bbox_large", cx, cy, rng, 500_000, 1_500_000))
        elif kind == "P":
            c = CITIES[rng.integers(0, len(CITIES))]
            nv = int(rng.integers(5, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rng.uniform(30_000, 120_000, nv)
            out.append({"kind": "polygon",
                        "lons": (c[0] + rad * np.cos(ang)).astype(np.int64),
                        "lats": (c[1] + rad * np.sin(ang)).astype(np.int64)})
        else:
            j = int(rng.integers(0, len(truth["lon"])))
            dx = int(rng.integers(-999, 999))
            dy = int(rng.integers(-999, 999))
            out.append({"kind": "knn", "k": 5,
                        "lon": int(truth["lon"][j]) + dx,
                        "lat": int(truth["lat"][j]) + dy})
    return out


def _window(kind, cx, cy, rng, lo, hi):
    hw, hh = (int(v) for v in rng.integers(lo, hi, 2))
    return {"kind": kind, "box": (cx - hw, cy - hh, cx + hw, cy + hh)}


def change_batch_sizes(n_nodes: int, n_batches: int, seed: int) -> np.ndarray:
    """Batch sizes log-uniform from 10 nodes to 1% of the nodes."""
    rng = np.random.default_rng([seed, 11])
    hi = max(n_nodes // 100, 11)
    return np.exp(rng.uniform(np.log(10), np.log(hi), n_batches)
                  ).astype(np.int64)
