#!/usr/bin/env python3
"""Engine benchmark: tile build, serving and incremental update.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  Drives the engine as a library on local[4]
from one process and one client thread.  Inputs come from --seed
(perfbench/gen.py) and are made before anything is timed; only calls into
the engine's public functions are timed; every output is checked against an
oracle that does not run engine code (perfbench/check.py), outside the timed
intervals.  The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a traced
run.  The line before it is a JSON record with the launch settings, the
input's way-cell depth histogram and (when traced) every per-layer number
the run measured.  A wrong output exits 1.

Workloads (each starts with a base build in its set-up):
  serve   a closed loop, 1 client: seeded window, polygon and kNN queries
          whose rows come back to the driver;
  update  node-change batches through calc_update_tiles into the snapshot
          store, each followed by reads of the changed area.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("serve", "update")
# end-to-end metric -> unit (BENCHMARK.json's end_to_end, same order)
END_TO_END = {"setup_s": "s", "build_docs_per_s": "1/s", "op_p50_ms": "ms"}
N_DOCS = 10_000
SMOKE_DOCS = 2_000


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--docs", type=int, default=N_DOCS,
                   help="input size (the self-test smoke run shrinks it)")
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be >= 1")
    if a.docs < 200:
        p.error("--docs must be >= 200")
    return a


def _prepare_env(work: str) -> dict:
    """Point every scratch path inside the checkout, after recording what
    the engine's launch defaults picked on their own."""
    inherited = os.environ.pop("SPARK_LOCAL_DIRS", None)
    import osmquadtree_depreceated_spark  # noqa: F401  (launch defaults)

    picked = os.environ.get("SPARK_LOCAL_DIRS")
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no JVM perf-counter file in the system temp dir (launcher and driver)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    import tempfile
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    sort_writer = "spark.shuffle.sort.bypassMergeThreshold=7" in submit
    return {
        "nproc": os.cpu_count(),
        "engine_local_dirs": picked if picked != inherited else None,
        "inherited_local_dirs": inherited,
        "used_local_dirs": "<checkout>/" + os.path.relpath(local, ROOT),
        "shuffle_writer": "sort (bypassMergeThreshold=7)" if sort_writer
        else "spark default",
        "pyspark_submit_args": submit,
    }


def _driver_memory() -> str:
    """Spark's default 1 GiB heap: the input needs far less, the box's RAM
    is shared, and a heap that fills up keeps the peak RSS steady."""
    return "3g"


class PssSampler:
    """Peak summed memory of a process and its descendants, read from /proc
    by a background thread every 250 ms.  Proportional set size
    (PSS): the Python workers fork from one daemon and share its pages,
    which a plain RSS sum would count once per worker.  One sample walks
    the JVM's page tables (about 40 ms of a core on a 3 GB heap), so only
    traced runs sample; `pid=None` samples nothing."""

    def __init__(self, pid):
        self.pid = pid
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree(pid: int) -> list:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self):
        while not self._stop.is_set():
            tree = self._tree(self.pid)
            pss = [self._pss_kb(p) for p in tree]
            self.peak_kb = max(self.peak_kb, sum(pss))
            self.peak_jvm_kb = max(self.peak_jvm_kb, pss[0])
            self.peak_procs = max(self.peak_procs, len(tree))
            self._stop.wait(0.25)

    def __enter__(self):
        if self.pid is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


def _burn(seconds: float) -> int:
    t0 = time.time()
    x = 0
    while time.time() - t0 < seconds:
        x += 1
    return x


def _calibrate(spark) -> dict:
    """The ROADMAP calibration pair (same definitions as bench.py)."""
    jobs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(8).repartition(8).write.format("noop").mode(
            "overwrite").save()
        jobs.append(time.perf_counter() - t0)
    return {"calib_trivial_job_s": sorted(jobs)[1],
            "calib_cpu_kops": _burn(0.5) / 0.5 / 1000}


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


class Ctx:
    """What one run shares between set-up, the measured phase and the
    checks, plus the tally of checked operations."""

    def __init__(self, spark, args, truth, tiles, built):
        self.spark, self.args = spark, args
        self.truth, self.tiles, self.built = truth, tiles, built
        self.attempted = 0
        self.failed = 0
        self.failures: list = []

    def checked(self, errors: list) -> None:
        """Count one operation; it failed if its checks found anything."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.failures += errors


def _run(args, work: str) -> int:
    sys.path[:0] = [HERE, ROOT]
    launch = _prepare_env(work)
    import numpy as np
    import pyarrow.parquet as pq

    import check
    import engine
    import gen
    import layers
    from tracing import Tracer

    # ---- inputs and expected outputs (untimed)
    truth = gen.generate(args.docs, args.seed)
    docs_path = os.path.join(work, "docs.parquet")
    pq.write_table(truth["docs"], docs_path)
    truth["alive"] = np.ones(len(truth["lon"]), bool)
    want = check.oracle_cells(truth)
    checksums = dict(zip(truth["docs"]["doc_id"].to_pylist(),
                         gen.spans_checksums(
                             truth["docs"]["spans"].combine_chunks())))
    n_docs = truth["docs"].num_rows
    depth_hist = np.bincount(want["way"] & 31, minlength=19).tolist()
    workload = WORKLOAD_OPS[args.workload]

    # ---- set-up: session, input load and warm-up, base build
    driver_mem = _driver_memory()
    ev_dir = os.path.join(work, "eventlog") if args.trace else None
    t_setup = time.perf_counter()
    spark = engine.session(work, driver_mem, ev_dir)
    sampler = PssSampler(spark.sparkContext._gateway.proc.pid
                         if args.trace else None)
    try:
        with sampler:
            tr = Tracer(spark, on=bool(args.trace),
                        run_id=f"{args.workload}-{args.seed}")
            t_build = time.perf_counter()
            with tr.span("build"):
                built = engine.build(spark, docs_path,
                                     os.path.join(work, "build"), tr)
            build_s = time.perf_counter() - t_build
            setup_s = time.perf_counter() - t_setup
            tiles = os.path.join(work, "build", "tiles")
            ctx = Ctx(spark, args, truth, tiles, built)
            ctx.checked(check.check_store_cells(
                built["store"].root,
                {"way": ("way_cells", "way_id"),
                 "node": ("node_cells", "node_id"),
                 "rel": ("rel_cells", "rel_id")}, want)
                + check.check_tiles(tiles, truth, want, checksums))
            t_warm = time.perf_counter()
            state, warm = workload.setup(ctx, tr)
            setup_s += time.perf_counter() - t_warm
            for q, got in warm:
                workload.check(ctx, q, got)
            calib = _calibrate(spark)

            # ---- measured phase: ops until --seconds have passed
            deadline = time.perf_counter() + args.seconds
            lat_s, extra = workload.measure(
                ctx, state, tr,
                lambda ops: (len(ops) >= workload.MIN_OPS
                             and time.perf_counter() >= deadline))
            if args.trace:
                # the same number of ops again, untraced: tracing overhead
                n = len(lat_s)
                untraced, _ = workload.measure(ctx, state, Tracer(),
                                               lambda ops: len(ops) >= n)
                overhead = sum(lat_s) - sum(untraced)
                direct = layers.direct_calls(spark, built["store"], truth)
    finally:
        _stop_spark(spark)

    values = {"setup_s": setup_s, "build_docs_per_s": n_docs / build_s,
              "op_p50_ms": statistics.median(lat_s) * 1000.0}
    record = {
        "workload": args.workload, "seed": args.seed, "docs": n_docs,
        "launch": dict(launch, master=f"local[{engine.CPUS}]",
                       driver_memory=driver_mem, **calib),
        "way_cell_depth_hist": depth_hist,
        "build_s": build_s, "op_latencies_s": lat_s, **extra,
        "ops_failed_ratio": ctx.failed / ctx.attempted,
        "failures": ctx.failures[:20],
    }
    if args.trace:
        per_layer = layers.per_layer(tr, ev_dir, built["store"], tiles,
                                     direct, want, overhead)
        per_layer["spark.peak_pss_mb"] = sampler.peak_kb / 1024.0
        record.update(peak_jvm_pss_mb=sampler.peak_jvm_kb / 1024.0,
                      peak_processes=sampler.peak_procs)
        record["per_layer"] = per_layer
        record["spans"] = tr.spans
        metrics = {k: (per_layer[k], u) for k, u in layers.PER_LAYER.items()}
    else:
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    record["metrics"] = {k: [v, u] for k, (v, u) in metrics.items()}
    print(json.dumps(record, default=float))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if ctx.failed == 0 else 1


class Serve:
    """Closed loop, one client: seeded queries whose rows come back to the
    driver.  Set-up runs one window and one polygon query, so the Python
    workers are up and the scan plans are compiled before anything is
    timed.  kNN is left cold, which keeps set-up short: every kNN call
    builds and frees its own point cache, so it stays slow when warm, and
    its one query per run does not reach the median."""

    MIN_OPS = 1

    @staticmethod
    def setup(ctx, tr):
        """Returns the state and the warm-up (query, rows) pairs, which the
        caller checks outside the set-up time."""
        import gen
        queries = gen.query_mix(ctx.truth, 1000, ctx.args.seed)
        first = {}
        for q in queries:
            first.setdefault(q["kind"].split("_")[0], q)
        with tr.span("setup.warm_queries"):
            warm = [(first[k], Serve.query(ctx, first[k], tr))
                    for k in ("bbox", "polygon")]
        return {"queries": queries, "next": 0}, warm

    @staticmethod
    def query(ctx, q, tr):
        import engine
        with tr.span(f"query.{q['kind']}"):
            if q["kind"].startswith("bbox"):
                return engine.bbox_query(ctx.spark, ctx.tiles, q["box"], tr)
            if q["kind"] == "polygon":
                return engine.polygon_query(ctx.spark, ctx.tiles, q["lons"],
                                            q["lats"], tr)
            return engine.knn_query(ctx.spark, ctx.tiles, q["lon"],
                                    q["lat"], q["k"], tr)

    @staticmethod
    def check(ctx, q, got):
        import check
        if q["kind"].startswith("bbox"):
            ctx.checked(check.check_bbox(got, ctx.truth, q["box"]))
        elif q["kind"] == "polygon":
            ctx.checked(check.check_polygon(got, ctx.truth, q["lons"],
                                            q["lats"]))
        else:
            ctx.checked(check.check_knn(got, ctx.truth, q["lon"], q["lat"],
                                        q["k"]))

    @staticmethod
    def measure(ctx, state, tr, done):
        lat, kinds = [], []
        while not done(lat):
            q = state["queries"][state["next"]]
            state["next"] += 1
            t0 = time.perf_counter()
            got = Serve.query(ctx, q, tr)
            lat.append(time.perf_counter() - t0)
            kinds.append(q["kind"])
            Serve.check(ctx, q, got)
        return lat, {"query_kinds": kinds}


class Update:
    """Node-change batches through calc_update_tiles, committed to the
    snapshot store; each batch is followed by a pruned scan of the tile
    around a changed node.  The final merged cell tables must equal a full
    recompute (the q33 contract).  A run measures at least two batches,
    so op_p50_ms is never a single sample."""

    MIN_OPS = 2

    @staticmethod
    def setup(ctx, tr):
        store, spark = ctx.built["store"], ctx.spark
        with tr.span("setup.base_tables"):
            nodes = ctx.built["nodes"].localCheckpoint(eager=True)
            way_refs = ctx.built["way_refs"].localCheckpoint(eager=True)
        return {"store": store, "nodes": nodes, "way_refs": way_refs,
                "way_cells": store.read(spark, "way_cells"),
                "node_cells": store.read(spark, "node_cells"),
                "truth": ctx.truth, "batch": 0}, []

    @staticmethod
    def measure(ctx, state, tr, done):
        import check
        import engine
        import gen
        lat, sizes = [], []
        base = ctx.truth
        n_base = len(base["lon"]) + len(base["way_id"])
        last = False
        while not last:
            b = state["batch"]
            state["batch"] += 1
            cur = state["truth"]
            ch = gen.node_changes(
                cur, int(gen.change_batch_sizes(len(base["lon"]), b + 1,
                                                ctx.args.seed)[b]),
                b, ctx.args.seed, len(cur["lon"]) + 1)
            rows = list(zip(ch[0].tolist(), [1] * len(ch[0]), ch[1].tolist(),
                            ch[2].tolist(), ch[3].tolist()))
            t0 = time.perf_counter()
            with tr.span("update.batch"):
                out = engine.update_batch(ctx.spark, state, rows, f"b{b}", tr)
            lat.append(time.perf_counter() - t0)
            sizes.append(len(rows))
            state["truth"] = check.apply_changes(cur, ch)
            if tr.on:
                for k, v in engine.update_counts(out, n_base, state["store"],
                                                 f"b{b}").items():
                    tr.rows(k, v)
            # the scan reads the base tiles, which a batch does not
            # rewrite: its expected rows come from the base truth
            with tr.span("update.scan"):
                box, hits = engine.affected_tile_scan(
                    ctx.spark, ctx.tiles, int(ch[2][0]), int(ch[3][0]), tr)
            errors = check.check_bbox(hits, base, box)
            last = done(lat)
            if last:
                # the q33 contract on the last batch's committed tables
                errors += check.check_store_cells(
                    state["store"].root,
                    {"way": (f"way_cells@b{b}", "way_id"),
                     "node": (f"node_cells@b{b}", "node_id")},
                    check.oracle_cells(state["truth"]))
            ctx.checked(errors)
        return lat, {"batch_sizes": sizes,
                     "changes_per_s": sum(sizes) / sum(lat)}


WORKLOAD_OPS = {"serve": Serve, "update": Update}


if __name__ == "__main__":
    sys.exit(main())
