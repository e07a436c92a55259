"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark and take about a minute each; the rest run in
seconds.
"""

from __future__ import annotations

import io
import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _ipc(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


# ------------------------------------------------------------- generator

def test_generator_is_deterministic():
    a, b = gen.generate(400, 5), gen.generate(400, 5)
    assert _ipc(a["docs"]) == _ipc(b["docs"])
    for k, v in a.items():
        if isinstance(v, np.ndarray):
            assert np.array_equal(v, b[k]), k
    assert _ipc(gen.generate(400, 6)["docs"]) != _ipc(a["docs"])
    a["alive"] = b["alive"] = np.ones(len(a["lon"]), bool)
    qa, qb = gen.query_mix(a, 50, 5), gen.query_mix(b, 50, 5)
    assert [q["kind"] for q in qa] == [q["kind"] for q in qb]
    for x, y in zip(gen.node_changes(a, 30, 2, 5, 10_000),
                    gen.node_changes(b, 30, 2, 5, 10_000)):
        assert np.array_equal(x, y)


def test_generator_shape():
    t = gen.generate(2000, 3)
    n, w, r = len(t["node_id"]), len(t["way_id"]), len(t["rel_id"])
    assert t["docs"].num_rows == n + w + r
    assert abs(w / (n + w + r) - 0.20) < 0.01
    assert abs(r / (n + w + r) - 0.05) < 0.01
    spans = t["docs"].column("spans").combine_chunks()
    first = spans.flatten().field("kind").to_numpy(zero_copy_only=False)[
        spans.offsets.to_numpy()[:-1]]
    assert set(first) == {"node", "way", "relation"}
    # every way ref is a node id; refs are local, so most way cells are deep
    assert t["way_refs"].min() >= 1 and t["way_refs"].max() <= n
    from osmquadtree_depreceated_spark.qtcore import calculate_cells
    depth = calculate_cells(*gen.way_bboxes(t), 0.05, 18) & 31
    assert np.mean(depth >= 10) > 0.5


def test_spans_checksum_matches_engine_definition():
    """The check's checksum restates sources.docs.spans_checksum: sha256
    of the (kind, text, media_ref) payload in offset order."""
    import hashlib

    rows = [[{"kind": "node", "text": "1 2 3", "media_ref": "", "offset": 0},
             {"kind": "media", "text": "c", "media_ref": "m://x",
              "offset": 2},
             {"kind": "tag", "text": "a=b", "media_ref": "", "offset": 1}]]
    arr = pa.array(rows, pa.list_(gen.SPAN_TYPE))
    payload = "\u0002".join(["node\u00011 2 3\u0001", "tag\u0001a=b\u0001",
                             "media\u0001c\u0001m://x"])
    assert gen.spans_checksums(arr) == [
        hashlib.sha256(payload.encode()).hexdigest()]


# ---------------------------------------------------------------- tracing

def test_self_time_over_made_up_span_tree():
    spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "b", "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 0, "start": 8.0, "end": 12.0},
        {"id": 4, "name": "a", "parent": 2, "start": 2.5, "end": 3.5},
    ]
    st = tracing.self_times(spans)
    # root's children cover [1, 5] and [8, 10] (c is clipped to root)
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    tot = tracing.totals_by_name(spans)
    assert tot["a"]["calls"] == 2
    assert tot["a"]["self_s"] == pytest.approx(3.0)
    assert tot["a"]["wall_s"] == pytest.approx(3.0)


def test_event_log_parser_on_recorded_log():
    """A log recorded from Spark 4.1 (trimmed to the events the parser
    reads): a pandas UDF over 1000 rows, a shuffle, and a filtered scan of
    a 2-file parquet table, each under its own job group."""
    groups = tracing.parse_event_log(os.path.join(HERE, "testdata",
                                                  "eventlog"))
    udf, shuf, scan = groups["span-0"], groups["span-1"], groups["span-2"]
    assert udf["jobs"] >= 1 and shuf["jobs"] >= 1
    assert udf["py_rows"] == 1000
    assert udf["py_bytes_in"] > 0 and udf["py_bytes_out"] > 0
    assert udf["py_run_ms"] >= 0 and "py_start_ms" in udf
    assert shuf["shuffle_bytes"] > 0
    assert shuf["task_shuffle_bytes"] == shuf["shuffle_bytes"]
    assert udf["tasks"] >= 1 and udf["task_cpu_ns"] > 0
    assert all(d >= 0 for d in udf["job_delays"])
    assert udf["first_submit"] > 1.6e9
    assert scan["files_read"] == 2 and scan["scan_rows"] == 100


# ------------------------------------------------------------------ checks

def test_checks_catch_wrong_outputs():
    t = gen.generate(600, 2)
    t["alive"] = np.ones(len(t["lon"]), bool)
    box = (int(t["lon"][0]) - 50_000, int(t["lat"][0]) - 50_000,
           int(t["lon"][0]) + 50_000, int(t["lat"][0]) + 50_000)
    hits = sorted(check.bbox_hits(t, box))
    off = t["way_off"]
    rows = [(e, i, int(off[i] - off[i - 1]) if e == "w" else None)
            for e, i in hits]
    assert check.check_bbox(rows, t, box) == []
    assert check.check_bbox(rows[1:], t, box)
    if any(e == "w" for e, _ in hits):
        bad = [(e, i, (n or 0) + 1 if e == "w" else n) for e, i, n in rows]
        assert check.check_bbox(bad, t, box)
    q = (int(t["lon"][3]), int(t["lat"][3]))
    d2 = (t["lon"] - q[0]) ** 2 + (t["lat"] - q[1]) ** 2
    best = np.lexsort((np.arange(len(d2)), d2))[:5] + 1
    good = [(r + 1, int(i)) for r, i in enumerate(best)]
    assert check.check_knn(good, t, *q, 5) == []
    assert check.check_knn(good[::-1][:4] + [(5, 10_000)], t, *q, 5)


def test_update_truth_applies_changes():
    t = gen.generate(600, 4)
    t["alive"] = np.ones(len(t["lon"]), bool)
    n = len(t["lon"])
    ch = gen.node_changes(t, 40, 0, 4, n + 1)
    node, ctype, lon, lat = ch
    assert set(ctype) <= {"modify", "delete", "create"}
    t2 = check.apply_changes(t, ch)
    assert len(t2["lon"]) == n + (ctype == "create").sum()
    for i, c, x, y in zip(node, ctype, lon, lat):
        if c == "delete":
            assert not t2["alive"][i - 1]
        else:
            assert (t2["lon"][i - 1], t2["lat"][i - 1]) == (x, y)
    # deletes never hit a node that a way references
    assert not np.isin(node[ctype == "delete"], t["way_refs"]).any()


# ------------------------------------------------------- metric contract

def test_metric_names_and_benchmark_json_agree():
    b = _bench()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    per = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == run.END_TO_END
    assert per == layers.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    for name in list(e2e) + list(per) + [w["name"] for w in b["workloads"]]:
        assert NAME.match(name), name
    assert e2e["setup_s"] == "s"
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])


def _smoke(workload: str, trace: int):
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--docs", str(run.SMOKE_DOCS)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    want = run.END_TO_END if not trace else layers.PER_LAYER
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), k
    return json.loads(lines[-2]), result


@pytest.mark.parametrize("workload", ["serve", "update"])
def test_smoke_untraced(workload):
    record, result = _smoke(workload, 0)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert sum(record["way_cell_depth_hist"]) > 0


def test_smoke_traced_update():
    record, result = _smoke("update", 1)
    per = record["per_layer"]
    for k in ("sources.elements_out", "calcqts.way_cells_s",
              "udfs.rows_to_python", "partitioned.files_written",
              "partitioned.files_read", "driver.jobs", "update.batch_s"):
        assert per[k] > 0, k
