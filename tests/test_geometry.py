"""Ring algebra units + Spark geometry construction operators."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.geometry import (
    GEOM_LINESTRING,
    GEOM_MULTIPOLYGON,
    GEOM_POLYGON,
    add_way_coords,
    assemble_multipolygons,
    make_way_geometries,
)
from osmquadtree_depreceated_spark.qtcore import rings as R


def _ring(pts):
    return [(i + 1, lon, lat) for i, (lon, lat) in enumerate(pts)]


class TestRingAlgebra:
    def test_merge_three_open_ways_all_orientations(self):
        # square 1-2-3-4-1 split into three open ways with mixed directions
        p = {1: (0, 0), 2: (10_000_000, 0), 3: (10_000_000, 10_000_000),
             4: (0, 10_000_000)}
        w1 = [(1, *p[1]), (2, *p[2])]
        w2 = [(3, *p[3]), (2, *p[2])]          # reversed segment
        w3 = [(3, *p[3]), (4, *p[4]), (1, *p[1])]
        merged = R.merge_rings([w1, w2, w3])
        assert len(merged) == 1
        ring = merged[0]
        assert R.check_ring(ring)
        assert {r[0] for r in ring} == {1, 2, 3, 4}
        assert len(ring) == 5  # closed: first == last

    def test_merge_keeps_closed_and_recurses_remainder(self):
        closed = _ring([(0, 0), (5, 0), (5, 5), (0, 0)])
        closed[-1] = closed[0]  # same ref closes it
        w1 = [(10, 0, 0), (11, 1, 1)]
        w2 = [(11, 1, 1), (12, 2, 0)]
        w3 = [(12, 2, 0), (10, 0, 0)]
        merged = R.merge_rings([closed, w1, w2, w3])
        assert len(merged) == 2
        assert all(R.check_ring(r) for r in merged)

    def test_orphan_open_way_fails_check(self):
        w = [(1, 0, 0), (2, 5, 5)]
        merged = R.merge_rings([w])
        assert not R.check_ring(merged[0])

    def test_group_rings_containment_and_orphan_drop(self):
        big = _ring([(0, 0), (100, 0), (100, 100), (0, 100), (0, 0)])
        big[-1] = big[0]
        far = _ring([(1000, 1000), (1100, 1000), (1100, 1100), (1000, 1000)])
        far[-1] = far[0]
        inner = _ring([(10, 10), (20, 10), (20, 20), (10, 10)])
        inner[-1] = inner[0]
        orphan = _ring([(500, 500), (510, 500), (510, 510), (500, 500)])
        orphan[-1] = orphan[0]
        groups = R.group_rings([big, far], [inner, orphan], allow_loose=True)
        assert len(groups) == 2
        assert len(groups[0]) == 2 and groups[0][1][0][1] == 10
        assert len(groups[1]) == 1
        with pytest.raises(ValueError):
            R.group_rings([big, far], [orphan], allow_loose=False)

    def test_polygon_area_outer_minus_inner(self):
        outer = _ring([(0, 0), (10_000_000, 0), (10_000_000, 10_000_000),
                       (0, 10_000_000), (0, 0)])
        outer[-1] = outer[0]
        inner = _ring([(2_000_000, 2_000_000), (4_000_000, 2_000_000),
                       (4_000_000, 4_000_000), (2_000_000, 4_000_000),
                       (2_000_000, 2_000_000)])
        inner[-1] = inner[0]
        a_out = R.polygon_area([list(outer)])
        a_both = R.polygon_area([list(outer), list(inner)])
        assert a_out > 0
        assert a_both < a_out
        # near the equator 1 degree ~ 111 km; outer is 1x1 degree
        assert a_out == pytest.approx((111_319.49) ** 2, rel=0.02)

    def test_zorder_rules(self):
        # exact zorder.go:60-119 semantics: rank-1 highways never lift zo
        # (z > 1 required), bridge/tunnel move the LAYER counter (+/-1,
        # "anything not explicitly false"), layer values accumulate, the
        # z_order override replaces zo but l*10 is still added after
        assert R.find_zorder({"highway": "motorway"}) == 9
        assert R.find_zorder({"highway": "service", "bridge": "yes"}) == 10
        assert R.find_zorder({"highway": "service"}) == 0  # rank 1 ignored
        assert R.find_zorder({"railway": "rail", "tunnel": "true"}) == -5
        assert R.find_zorder({"highway": "primary", "layer": "2"}) == 27
        assert R.find_zorder({"z_order": "42", "highway": "path"}) == 42
        assert R.find_zorder({"z_order": "42", "layer": "1"}) == 52
        assert R.find_zorder({"z_order": "nope"}) == 0  # parse error -> 0
        assert R.find_zorder({"highway": "motorway", "railway": "x"}) == 9
        assert R.find_zorder({"highway": "residential", "railway": "x"}) == 5
        assert R.find_zorder({"bridge": "maybe"}) == 10  # !is_false
        assert R.find_zorder({"bridge": "no"}) == 0

    def test_zorder_native_matches_scalar(self, spark):
        from osmquadtree_depreceated_spark.operators.geometry import (
            with_zorder,
        )

        cases = [
            {"highway": "motorway"}, {"highway": "service", "bridge": "yes"},
            {"highway": "service"}, {"railway": "rail", "tunnel": "true"},
            {"highway": "primary", "layer": "2"},
            {"z_order": "42", "highway": "path"},
            {"z_order": "42", "layer": "1"}, {"z_order": "nope"},
            {"highway": "motorway", "railway": "x"},
            {"highway": "residential", "railway": "x"},
            {"bridge": "maybe"}, {"bridge": "no"}, {},
            {"layer": "-3", "tunnel": "1"}, {"z_order": ""},
        ]
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)],
            "id long, tags map<string,string>",
        )
        got = {r["id"]: r["z_order"]
               for r in with_zorder(df).collect()}
        for i, c in enumerate(cases):
            assert got[i] == R.find_zorder(c), c


class TestVectorizedArea:
    def test_matches_scalar_polygon_area(self):
        import numpy as np

        rng = np.random.default_rng(5)
        lons_seq, lats_seq, want = [], [], []
        for trial in range(300):
            m = int(rng.integers(2, 12))
            lons = rng.integers(-10_000_000, 10_000_000, m)
            lats = rng.integers(500_000_000, 520_000_000, m)
            if trial % 3 == 0:  # close the ring
                lons[-1], lats[-1] = lons[0], lats[0]
            if trial % 5 == 0 and m > 3:  # consecutive repeats
                lons[1], lats[1] = lons[0], lats[0]
            lons_seq.append(lons)
            lats_seq.append(lats)
            ring = [(i, int(a), int(b))
                    for i, (a, b) in enumerate(zip(lons, lats))]
            try:
                want.append(R.polygon_area([ring]))
            except ValueError:
                want.append(0.0)
        got = R.ring_areas_vectorized(lons_seq, lats_seq)
        np.testing.assert_array_equal(got, np.array(want))  # bit-identical


class TestTagRewrite:
    CASES = [
        {"highway": "primary", "name": "x", "randomkey": "v"},
        {"building": "yes"},
        {"area": "yes", "foo": "bar"},
        {"area": "no"},
        {"boundary": "administrative"},
        # safe payloads take the native verbatim fold; risky ones (see
        # ADVERSARIAL below) route through the json.dumps fallback
        {"other_tags": "prior", "zzz": "1"},
        {"other_tags": "old", "name": "n"},
        {"name": "plain"},
        {},
        {"natural": "water", "w1": "a", "w2": "b"},
    ]

    def test_native_way_rewrite_matches_scalar(self, spark):
        from osmquadtree_depreceated_spark.operators.geometry import (
            with_tag_rewrite,
        )
        from osmquadtree_depreceated_spark.qtcore import tags as T

        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.CASES)],
            "id long, tags map<string,string>",
        )
        rows = {r["id"]: r for r in with_tag_rewrite(df, "way").collect()}
        for i, c in enumerate(self.CASES):
            zo, isp, newtags = T.way_tags_filter(c)
            r = rows[i]
            assert dict(r["tags_out"] or {}) == newtags, c
            assert r["is_poly"] == isp, c
            assert r["z_order"] == zo, c

    ADVERSARIAL = [
        {"k1": 'va"lue', "name": "n"},            # quote
        {"k2": "back\\slash"},                     # backslash
        {"k3": "line\nbreak", "k4": "tab\there"},  # control chars
        {"k5": "unicode é中"},            # non-ASCII
        {'q"key': "v", "name": "x"},               # risky key
        {"other_tags": '{"nested":"json"}'},       # nested payload
        {"mixed": "safe", "bad": 'a"b\\c\nd'},     # safe+risky together
        {"del": "\x7f\x01"},                       # other control chars
    ]

    def test_escaped_fold_matches_json_dumps(self, spark):
        """Round-3: adversarial payloads (quotes, backslashes, control
        chars, unicode) must produce EXACT json.dumps output via the
        escape fallback, while safe rows keep the native fold."""
        from osmquadtree_depreceated_spark.operators.geometry import (
            with_tag_rewrite,
        )
        from osmquadtree_depreceated_spark.qtcore import tags as T

        cases = self.CASES + self.ADVERSARIAL
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)],
            "id long, tags map<string,string>",
        )
        rows = {r["id"]: r for r in with_tag_rewrite(df, "way").collect()}
        import json

        for i, c in enumerate(cases):
            zo, isp, newtags = T.way_tags_filter(c)
            got = dict(rows[i]["tags_out"] or {})
            assert got == newtags, (c, got, newtags)
            if "other_tags" in newtags:
                # and the payload is well-formed JSON round-tripping to
                # the folded entries
                decoded = json.loads(got["other_tags"])
                assert isinstance(decoded, dict)

    def test_native_node_rewrite_matches_scalar(self, spark):
        from osmquadtree_depreceated_spark.operators.geometry import (
            with_tag_rewrite,
        )
        from osmquadtree_depreceated_spark.qtcore import tags as T

        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.CASES)],
            "id long, tags map<string,string>",
        )
        rows = {r["id"]: r for r in with_tag_rewrite(df, "node").collect()}
        for i, c in enumerate(self.CASES):
            isfeat, newtags = T.node_tags_filter(c)
            r = rows[i]
            assert dict(r["tags_out"] or {}) == newtags, c
            assert r["is_feature"] == isfeat, c

    def test_rewrite_replaces_preexisting_output_columns(self, spark):
        """Input columns named like an output (tags_out, z_order, is_poly,
        is_feature) are replaced, not duplicated."""
        from osmquadtree_depreceated_spark.operators.geometry import (
            with_tag_rewrite,
        )

        clean = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.CASES)],
            "id long, tags map<string,string>",
        )
        stale = clean.selectExpr(
            "id", "tags", "map('stale', 'x') as tags_out",
            "-1L as z_order", "cast(null as boolean) as is_poly",
            "true as is_feature",
        )
        for which in ("way", "node"):
            want = with_tag_rewrite(clean, which)
            got = with_tag_rewrite(stale, which)
            assert len(set(got.columns)) == len(got.columns), which
            # a node rewrite derives no z_order/is_poly: those pass through
            assert set(got.columns) == set(want.columns) | (
                {"z_order", "is_poly"} if which == "node" else set()), which
            cols = sorted(want.columns)
            assert ({tuple(map(str, r)) for r in got.select(cols).collect()}
                    == {tuple(map(str, r))
                        for r in want.select(cols).collect()}), which


@pytest.fixture(scope="module")
def geo_data(spark):
    # nodes 1-4 square, 5-6 line, 7 missing from ways that use node 99
    nodes = spark.createDataFrame(
        [
            (1, 0, 500000000), (2, 10_000_000, 500000000),
            (3, 10_000_000, 510000000), (4, 0, 510000000),
            (5, -5_000_000, 505000000), (6, -4_000_000, 506000000),
            (7, 2_000_000, 502000000), (8, 4_000_000, 502000000),
            (9, 4_000_000, 504000000),
        ],
        "node_id long, lon long, lat long",
    )
    way_refs = spark.createDataFrame(
        [
            # way 1: closed square
            (1, 1, 1), (1, 2, 2), (1, 3, 3), (1, 4, 4), (1, 5, 1),
            # way 2: open line
            (2, 1, 5), (2, 2, 6),
            # way 3: references missing node 99 -> dropped
            (3, 1, 1), (3, 2, 99),
            # ways 4-5: two open halves of a triangle ring (for relation)
            (4, 1, 7), (4, 2, 8),
            (5, 1, 8), (5, 2, 9), (5, 3, 7),
        ],
        "way_id long, pos long, ref long",
    )
    return nodes, way_refs


class TestSparkGeometry:
    def test_add_way_coords_order_and_missing(self, spark, geo_data):
        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes).orderBy("way_id").collect()
        ids = [r["way_id"] for r in wc]
        assert ids == [1, 2, 4, 5]  # way 3 dropped (missing node)
        w1 = wc[0]
        assert w1["refs"] == [1, 2, 3, 4, 1]
        assert w1["lons"][0] == 0 and w1["lons"][1] == 10_000_000
        kept = add_way_coords(way_refs, nodes, drop_missing=False)
        assert kept.count() == 5

    def test_make_way_geometries_types_and_area(self, spark, geo_data):
        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        tags = spark.createDataFrame(
            [(1, {"building": "yes"}), (2, {"highway": "primary"})],
            "way_id long, tags map<string,string>",
        )
        geoms = {r["way_id"]: r for r in
                 make_way_geometries(wc, tags).collect()}
        assert geoms[1]["geom_type"] == GEOM_POLYGON
        assert geoms[1]["way_area"] > 0
        assert geoms[2]["geom_type"] == GEOM_LINESTRING
        assert geoms[2]["way_area"] == 0.0
        assert geoms[2]["z_order"] == 7
        assert geoms[1]["minx"] == 0 and geoms[1]["maxx"] == 10_000_000
        assert geoms[1]["cell"] >= 0

    def test_assemble_multipolygon_from_open_ways(self, spark, geo_data):
        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        members = spark.createDataFrame(
            [(100, 4, "outer"), (100, 5, "outer")],
            "rel_id long, ref long, role string",
        )
        out = assemble_multipolygons(members, wc).collect()
        assert len(out) == 1
        r = out[0]
        assert r["geom_type"] == GEOM_POLYGON
        assert r["n_groups"] == 1 and r["n_rings"] == 1
        assert r["way_area"] > 0
        assert r["outer_refs"] == [4, 5]

    def test_assemble_multi_outer(self, spark, geo_data):
        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        members = spark.createDataFrame(
            [(200, 1, "outer"), (200, 4, "outer"), (200, 5, "")],
            "rel_id long, ref long, role string",
        )
        out = assemble_multipolygons(members, wc).collect()
        assert len(out) == 1
        assert out[0]["geom_type"] == GEOM_MULTIPOLYGON
        assert out[0]["n_groups"] == 2

    def test_rel_with_no_valid_outer_dropped(self, spark, geo_data):
        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        members = spark.createDataFrame(
            [(300, 2, "outer")],  # way 2 is an open line, never closes
            "rel_id long, ref long, role string",
        )
        assert assemble_multipolygons(members, wc).count() == 0

    def test_finishrel_tag_mergeback_and_deletions(self, spark, geo_data):
        from osmquadtree_depreceated_spark.operators.geometry import (
            apply_outer_tag_deletions,
        )

        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        # ways 4+5 form one closed ring; way 4 carries a natural tag that
        # the relation inherits -> duplicated tag deleted from way 4
        members = spark.createDataFrame(
            [(100, 0, 4, "outer"), (100, 1, 5, "outer")],
            "rel_id long, mpos long, ref long, role string",
        )
        way_tags = spark.createDataFrame(
            [(4, {"natural": "water", "name": "x"}),
             (5, {"highway": "primary"})],
            "way_id long, tags map<string,string>",
        )
        rel_tags = spark.createDataFrame(
            [(100, {"type": "multipolygon"})],
            "rel_id long, tags map<string,string>",
        )
        out = assemble_multipolygons(members, wc, rel_tags=rel_tags,
                                     way_tags=way_tags)
        rows = out.collect()
        assert len(rows) == 1
        r = rows[0]
        got_tags = dict(r["tags"])
        # outer tags Add: natural=water + name=x + highway=primary merged
        # into {type: multipolygon}; wayTags keeps all (style keys)
        assert got_tags["natural"] == "water"
        assert got_tags["type"] == "multipolygon"
        assert r["geom_type"] == GEOM_POLYGON
        dels = {(d["way_id"], d["key"]) for d in r["del_pairs"]}
        # every (k,v) the final relation shares with an outer way
        assert (4, "natural") in dels and (4, "name") in dels
        assert (5, "highway") in dels

        # second pass: way 4 loses natural+name -> no feature tag left ->
        # dropped; way 5 loses highway -> dropped too
        way_geoms = way_tags
        kept = apply_outer_tag_deletions(way_geoms, out).collect()
        assert kept == []
        # a way with an extra feature tag survives with tags subtracted
        way_tags2 = spark.createDataFrame(
            [(4, {"natural": "water", "amenity": "cafe"})],
            "way_id long, tags map<string,string>",
        )
        kept2 = apply_outer_tag_deletions(way_tags2, out).collect()
        assert len(kept2) == 1
        assert dict(kept2[0]["tags"]) == {"amenity": "cafe"}

    def test_multipolygon_collection_wkb(self, spark, geo_data):
        from osmquadtree_depreceated_spark.functions.wkb import (
            parse_wkb_collection,
            wkb_collection_udf,
        )

        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        members = spark.createDataFrame(
            [(200, 1, "outer"), (200, 4, "outer"), (200, 5, "")],
            "rel_id long, ref long, role string",
        )
        out = assemble_multipolygons(members, wc)
        enc = out.select(
            "rel_id", "n_groups",
            wkb_collection_udf()(F.col("rings")).alias("wkb"),
        ).collect()
        assert len(enc) == 1
        polys = parse_wkb_collection(bytes(enc[0]["wkb"]))
        assert len(polys) == enc[0]["n_groups"] == 2
        # rings are closed in coordinate space
        for rings in polys:
            for ring in rings:
                assert ring[0] == ring[-1]

    def test_boundary_relation_skips_tag_inheritance(self, spark, geo_data):
        nodes, way_refs = geo_data
        wc = add_way_coords(way_refs, nodes)
        members = spark.createDataFrame(
            [(100, 0, 1, "outer")],
            "rel_id long, mpos long, ref long, role string",
        )
        way_tags = spark.createDataFrame(
            [(1, {"natural": "water"})], "way_id long, tags map<string,string>"
        )
        rel_tags = spark.createDataFrame(
            [(100, {"boundary": "administrative"})],
            "rel_id long, tags map<string,string>",
        )
        rows = assemble_multipolygons(
            members, wc, rel_tags=rel_tags, way_tags=way_tags
        ).collect()
        assert len(rows) == 1
        tags = dict(rows[0]["tags"])
        assert "natural" not in tags  # boundary: no outer-tag inheritance
        assert tags["boundary"] == "administrative"
        assert rows[0]["del_pairs"] == []  # and no deletions either


class TestMercYIndependence:
    """Guards for the frozen mercator-y oracle LUT (gate._ylut_cte): the
    gate verifies everything downstream of the y transform bit-exactly in
    DuckDB, and these tests pin the transform itself against an
    INDEPENDENT implementation (libm via math.*) plus numpy's batch
    position-independence."""

    def test_numpy_y_matches_libm_within_ulps(self):
        import math

        import numpy as np

        from osmquadtree_depreceated_spark.qtcore.rings import (
            _merc_xy_arrays,
        )

        rng = np.random.default_rng(11)
        lats = np.concatenate([
            rng.integers(-850_000_000, 850_000_000, 20000),
            np.array([0, 1, -1, 500_000_000, 520_000_000,
                      -850_000_000, 850_000_000]),
        ])
        _, ynp = _merc_xy_arrays(np.zeros(len(lats), dtype=np.int64), lats)
        ym = np.array([
            math.log(math.tan(math.pi * (1.0 + int(v) * 0.0000001 / 90.0)
                              / 4.0))
            * 90.0 / math.pi * 20037508.3428 / 90.0
            for v in lats
        ])
        # numpy SIMD ln/tan differ from libm by ~1 ulp each on a minority
        # of inputs.  Near lat=0 the log(tan(~pi/4)) cancellation turns
        # those input ulps into large OUTPUT-ulp counts (y -> 0 so ulp(y)
        # collapses), so the meaningful independence bound is absolute
        # error in mercator meters: the transforms agree to ~1e-9 m over
        # the full +/-85 degree domain — vs the ~0.011 m resolution of the
        # 1e-7-degree fixed-point inputs (six orders of margin), and
        # relative agreement away from the equator is ~1e-13.
        absd = np.abs(ynp - ym)
        assert float(absd.max()) < 1e-8, float(absd.max())
        big = np.abs(ym) > 1.0
        rel = absd[big] / np.abs(ym[big])
        assert float(rel.max()) < 1e-12, float(rel.max())

    def test_numpy_y_is_position_independent(self):
        import numpy as np

        from osmquadtree_depreceated_spark.qtcore.rings import (
            _merc_xy_arrays,
        )

        rng = np.random.default_rng(12)
        lats = rng.integers(-850_000_000, 850_000_000, 4096)
        _, base = _merc_xy_arrays(np.zeros(len(lats), dtype=np.int64), lats)
        for off in (1, 3, 7, 13, 31):
            pad = np.concatenate([lats[:off], lats])
            _, y2 = _merc_xy_arrays(np.zeros(len(pad), dtype=np.int64), pad)
            assert np.array_equal(base, y2[off:])
        # scalar (length-1) evaluation matches batch evaluation bit-for-bit
        for i in range(0, 256, 17):
            _, y1 = _merc_xy_arrays(np.zeros(1, dtype=np.int64),
                                    lats[i:i + 1])
            assert y1[0] == base[i]
