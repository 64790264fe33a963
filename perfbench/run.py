#!/usr/bin/env python3
"""sedona_spark benchmark: seeded spatial joins, per-query floor and the
checkpointed tile pipeline, on local[k] from one driver process.

    python3 perfbench/run.py --workload spatial_joins --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A summary line
before it repeats the metrics with the derived throughput, the tail
percentile and the host telemetry. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import telemetry  # noqa: E402

GEN_REPEATS = 3  # input generation runs this often in set-up; median kept
# Rounds after the cold one that still belong to set-up: the first warm
# round still runs about 10 % slower than the rounds after it.
WARM_UP_ROUNDS = 1
# Driver JVM flags. C1 only: with HotSpot's default tiered C2, round walls
# on a 4-CPU box keep falling for about seven warm rounds (40 s) as C2
# works through its queue beside the tasks, so a run that fits the time
# budget measures a point on that slope. With C1 only, rounds are level
# from the second warm round on (spatial_joins steadies at about 6.2 s a
# round instead of 4.8 s; tile_pipeline runs at the same speed). Serial
# GC with a fixed young generation: how often it collects then follows
# from what the round allocates alone, where G1 resizes its young
# generation to meet a pause-time goal, i.e. to how fast the host is.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn400m"
MIN_ROUNDS = 3  # measured rounds per run at least
# local[k]: on a 4-CPU box two task threads, each with its Python worker,
# leave room for the JIT, GC and driver threads. Four threads barely
# shorten a round, which the per-query floor dominates, and their rounds
# took longer to settle after the cold round.
THREADS = 2

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest integer percentile (nearest
    rank) with at least ten samples beyond it, but never below the median;
    with fewer than twenty samples that is the median itself."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return xs[rank - 1], p, n
    return statistics.median(xs), 50, n


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.tracer = telemetry.Tracer(enabled=bool(args.trace))
        self.threads = max(1, min(THREADS, len(os.sched_getaffinity(0))))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    # ---------------------------------------------------------------- set-up
    def start_session(self) -> float:
        from sedona_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session:start"):
            jtmp = os.path.join(self.tmp, "jvm")
            os.makedirs(jtmp, exist_ok=True)
            conf = {
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp} -XX:-UsePerfData "
                    + JVM_OPTS,
            }
            if self.args.workload == "tile_pipeline":
                # image-byte batches: the repo's bench uses 64-row Arrow batches
                # for every stage that carries image bytes into Python
                conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = "64"
            self.spark = get_spark("perfbench", cpus=self.threads,
                                   shuffle_partitions=2 * self.threads, extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    # ---------------------------------------------------------------- rounds
    def run_round(self, wl, label: str, traced: bool) -> dict:
        ctx = self.ctx
        self.tracer.enabled = traced
        ctx.probe = telemetry.SparkProbe(self.spark) if traced else None
        self.tracer.round_id = label
        cpu0 = telemetry.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with self.tracer.span(f"round:{label}"):
            calls = wl.round()
        wall = time.perf_counter() - t0
        cpu = telemetry.tree_cpu_s(os.getpid()) - cpu0
        self.tracer.round_id = None
        ctx.probe = None
        for c in calls:
            self.attempted += 1
            ok, why = False, c["err"]
            if c["err"] is None:
                try:
                    ok, why = c["check"](c["out"])
                except Exception as e:
                    ok, why = False, f"check raised {type(e).__name__}: {e}"
            c["ok"] = ok
            if not ok:
                self.failed += 1
                self.failures.append(f"{label}/{c['op']}: {why}")
        if hasattr(wl, "cleanup_round"):
            wl.cleanup_round()
        self.tracer.enabled = bool(self.args.trace)
        return {"label": label, "wall": wall, "cpu": cpu, "calls": calls, "traced": traced}

    def execute(self) -> dict:
        from workloads import WORKLOADS, Ctx

        a = self.args
        host0 = telemetry.host_sample()
        session_s = self.start_session()
        self.ctx = Ctx(self.spark, self.tracer, self.tmp, self.threads)
        wl = WORKLOADS[a.workload](self.ctx, a.seed, a.scale)
        gens = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            with self.tracer.span("sources:gen"):
                wl.generate()
                wl.open()
            gens.append(time.perf_counter() - t0)
        with self.tracer.span("check:reference"):
            wl.reference()
        cold = self.run_round(wl, "cold", traced=False)
        warm_up = [self.run_round(wl, f"w{k + 1}", traced=False)["wall"]
                   for k in range(WARM_UP_ROUNDS)]
        setup_s = session_s + _median(gens) + cold["wall"] + sum(warm_up)

        pid = os.getpid()
        cpu0, gc0 = telemetry.tree_cpu_s(pid), telemetry.jvm_gc_s(self.spark.sparkContext)
        rounds = []
        m0 = time.perf_counter()
        while True:
            # untraced and traced rounds in A B B A order, so the warm-up
            # drift of round walls cancels out of trace.overhead_frac
            traced = bool(a.trace) and len(rounds) % 4 in (1, 2)
            rounds.append(self.run_round(wl, f"r{len(rounds) + 1}", traced))
            done = time.perf_counter() - m0 >= a.seconds and len(rounds) >= MIN_ROUNDS
            if done and (not a.trace or len(rounds) % 4 == 0):
                break
        cpu_s = telemetry.tree_cpu_s(pid) - cpu0
        gc_s = telemetry.jvm_gc_s(self.spark.sparkContext) - gc0
        rss = telemetry.tree_peak_rss_mb(pid)

        plain = [r for r in rounds if not r["traced"]]
        walls = [c["wall"] for r in plain for c in r["calls"] if c["op"] in wl.query_ops]
        t_val, t_pct, t_n = tail(walls)
        # per-op medians first, so a stall that hits one call in one round
        # moves neither wall figure
        op_round = {op: _median([sum(c["wall"] for c in r["calls"] if c["op"] == op)
                                 for r in plain]) for op in wl.ops}
        op_call = {op: _median([c["wall"] for r in plain for c in r["calls"] if c["op"] == op])
                   for op in wl.ops}
        # The gated round figure is the process tree's CPU seconds, not its
        # wall: on a shared host another guest can take a CPU from this one
        # for seconds at a time (steal). In a run that lost 16 s that way,
        # round walls rose 24 % and round CPU 8 %. The walls are printed
        # beside it.
        e2e = {"setup_s": setup_s, "round_cpu_s": _median([r["cpu"] for r in plain])}
        round_s = sum(op_round.values())
        info = {
            "session_s": session_s, "gen_s": gens, "cold_s": cold["wall"], "warm_up_s": warm_up,
            "cold_calls": {c["op"]: c["wall"] for c in cold["calls"]},
            "warm_calls": op_call,
            "round_s": round_s,
            "query_p50_s": _median([op_call[op] for op in wl.query_ops]),
            "rounds": len(plain), "queries": t_n, "tail_s": t_val, "tail_pct": t_pct,
            "round_walls": [r["wall"] for r in plain],
            "round_cpus": [r["cpu"] for r in plain],
            "items": wl.items, "items_per_s": wl.n_items / round_s,
            "items_per_cpu_s": wl.n_items / e2e["round_cpu_s"],
            "fail_frac": self.failed / max(1, self.attempted),
        }
        result = {"e2e": e2e, "info": info, "host0": host0}
        if a.trace:
            result["layers"], result["detail"] = self.layers(
                wl, rounds, session_s, gens, cpu_s, gc_s, rss)
        result["host1"] = telemetry.host_sample()
        return result

    # ---------------------------------------------------------------- traced
    def layers(self, wl, rounds, session_s, gens, cpu_s, gc_s, rss):
        import numpy as np

        traced = [r for r in rounds if r["traced"]]
        plain = [r for r in rounds if not r["traced"]]
        last = traced[-1]
        ms = [c["metrics"] for c in last["calls"]]
        tot = {k: sum(m.get(k, 0.0) for m in ms) for k in ms[0]}
        out_rows = 0
        detail = {}
        for c in last["calls"]:
            m, op = c["metrics"], c["op"]
            rows = self._out_rows(c)
            out_rows += rows
            d = {"wall_s": c["wall"], "jobs": m["jobs"], "tasks": m["tasks"],
                 "cover_rows": m["cover_rows"], "candidates": m["candidates"],
                 "out_rows": rows,
                 "refine_ratio": rows / m["candidates"] if m["candidates"] else 0.0,
                 "shuffle_bytes": m["shuffle_bytes"], "spill_bytes": m["spill_bytes"]}
            detail.update({f"op.{op}.{k}": v for k, v in d.items()})
        for k in ("st.py_rows", "st.py_bytes_sent", "st.py_total_ms", "st.py_init_ms",
                  "raster.tiles", "raster.py_bytes_sent", "raster.py_total_ms"):
            detail[k] = tot[k]
        plan = {ph: _median([c["metrics"][f"plan.{ph}_ms"] for r in traced for c in r["calls"]
                             if f"plan.{ph}_ms" in c["metrics"]])
                for ph in ("analysis", "optimization", "planning")}
        ckpt = self._pipeline_detail(wl, last)
        detail.update(ckpt)

        rng = np.random.default_rng(self.args.seed)
        with self.tracer.span("kernels:bench"):
            pip_rate, rings_rate = kernel_rates(*wl.kernel_inputs(rng))
        with self.tracer.span("images:codec"):
            codec_rate = codec_tiles_per_s(wl.blobs)
        overhead = (_median([r["wall"] for r in traced])
                    / _median([r["wall"] for r in plain]) - 1.0)
        cand = sum(detail[f"op.{c['op']}.candidates"] for c in last["calls"]
                   if detail[f"op.{c['op']}.candidates"])
        refined = sum(detail[f"op.{c['op']}.out_rows"] for c in last["calls"]
                      if detail[f"op.{c['op']}.candidates"])
        layers = {
            "session.start_s": session_s,
            "sources.gen_s": _median(gens),
            "images.codec_tiles_per_s": codec_rate,
            "kernels.pip_mpts_per_s": pip_rate,
            "kernels.rings_mpts_per_s": rings_rate,
            "plan.analysis_ms": plan["analysis"],
            "plan.optimization_ms": plan["optimization"],
            "plan.planning_ms": plan["planning"],
            "ops.wall_s": _median([r["wall"] for r in traced]),
            "ops.jobs": tot["jobs"],
            "ops.tasks": tot["tasks"],
            "ops.cover_rows": tot["cover_rows"],
            "ops.candidates": tot["candidates"],
            "ops.out_rows": out_rows,
            "ops.refine_ratio": refined / cand if cand else 0.0,
            "ops.shuffle_bytes": tot["shuffle_bytes"],
            "ops.spill_bytes": tot["spill_bytes"],
            "py.rows": tot["st.py_rows"] + tot["raster.tiles"],
            "py.bytes_sent": tot["st.py_bytes_sent"] + tot["raster.py_bytes_sent"],
            "py.total_ms": tot["st.py_total_ms"] + tot["raster.py_total_ms"],
            "py.init_ms": tot["st.py_init_ms"] + tot["raster.py_init_ms"],
            "raster.tiles": tot["raster.tiles"],
            "checkpoint.jobs": ckpt.get("checkpoint.jobs", 0),
            "checkpoint.bytes_written": ckpt.get("checkpoint.bytes_written", 0),
            "icetable.files": ckpt.get("icetable.files", 0),
            "proc.cpu_s": cpu_s,
            "proc.peak_rss_mb": rss,
            "jvm.gc_s": gc_s,
            "trace.overhead_frac": overhead,
        }
        detail["self_s"] = self.tracer.self_times(last["label"])
        detail["round_wall_s"] = last["wall"]
        return layers, detail

    @staticmethod
    def _out_rows(call) -> int:
        out = call["out"]
        if call["op"] == "pipeline":
            return sum(v["rows"] for v in out["assign"]["partitions"].values())
        if call["op"] == "scan":
            return len(out)
        return out[1][0]

    def _pipeline_detail(self, wl, rnd) -> dict:
        calls = {c["op"]: c for c in rnd["calls"]}
        if "pipeline" not in calls:
            return {}
        pipe = calls["pipeline"]
        scans = [c["wall"] for c in rnd["calls"] if c["op"] == "scan"]
        man = pipe["out"]
        stage_s = {s: man[s]["wall_sec"] for s in ("tiles", "assign", "zonal")}
        written = sum(v.get("bytes", 0) for s in ("tiles", "assign", "zonal")
                      for v in man[s]["partitions"].values())
        return {
            "checkpoint.tiles_s": stage_s["tiles"],
            "checkpoint.assign_s": stage_s["assign"],
            "checkpoint.zonal_s": stage_s["zonal"],
            "checkpoint.jobs": pipe["metrics"]["jobs"],
            "checkpoint.bytes_written": written,
            "icetable.publish_s": max(0.0, pipe["wall"] - sum(stage_s.values())),
            "icetable.scan_s": _median(scans),
            "icetable.files": wl.table_files,
        }

    # ---------------------------------------------------------------- stop
    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = telemetry.descendants(os.getpid())
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            deadline = time.time() + 15
            while time.time() < deadline and any(_alive(p) for p in kids):
                time.sleep(0.1)
            for p in kids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def kernel_rates(rings, ring_lists, px, py) -> tuple[float, float]:
    """Mpts/s of the numpy PIP kernels on the workload's own candidates,
    single thread, no Spark (best of two)."""
    from sedona_spark.geometry import kernels

    def rate(fn, *a):
        best = math.inf
        for _ in range(2):
            t0 = time.perf_counter()
            fn(*a)
            best = min(best, time.perf_counter() - t0)
        return len(px) / best / 1e6

    return (rate(kernels.point_in_polygon_batch, rings, px, py),
            rate(kernels.point_in_rings_batch, ring_lists, px, py))


def codec_tiles_per_s(bufs: list) -> float:
    """Single-thread decode + 16x16 tile slicing + encode of a sample of
    the stored images, no Spark."""
    import numpy as np

    from sedona_spark.sources.images import decode_image, encode_image

    tiles = 0
    t0 = time.perf_counter()
    for _ in range(3):
        for b in bufs:
            arr, fmt = decode_image(b)
            h, w = arr.shape[:2]
            for y0 in range(0, h, 16):
                for x0 in range(0, w, 16):
                    encode_image(np.ascontiguousarray(arr[y0:y0 + 16, x0:x0 + 16]), fmt)
                    tiles += 1
    return tiles / (time.perf_counter() - t0)


def scratch_dir() -> str:
    """A fresh scratch dir inside the checkout, which is the only place a
    run may write. It is named after this process; those of runs that no
    longer exist (killed before they could clean up) are removed first."""
    for d in glob.glob(os.path.join(ROOT, ".perfbench-*-*")):
        pid = os.path.basename(d).split("-")[1]
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f".perfbench-{os.getpid()}-", dir=ROOT)


def _metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["spatial_joins", "tile_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--trace-out", help="write the spans and per-op detail here (JSON)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sedona_spark", "__init__.py")):
        print(f"perfbench: no sedona_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers start from the JVM's environment: they must find the
    # package, and write nothing outside the run's temp dir
    tmp = scratch_dir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.pop("SPARK_GRAFT_CPUS", None)

    run = Run(args, tmp)
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res = run.execute()
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    e2e, info, h0, h1 = res["e2e"], res["info"], res["host0"], res["host1"]
    for f in run.failures:
        print(f"perfbench FAILED {f}")
    items = info["items"]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": [e2e["setup_s"], "s"], "round_cpu_s": [e2e["round_cpu_s"], "s"],
        "round_s": [info["round_s"], "s"],
        f"{items}_per_s": [info["items_per_s"], f"{items}/s"],
        f"{items}_per_cpu_s": [info["items_per_cpu_s"], f"{items}/cpu_s"],
        "query_p50_s": [info["query_p50_s"], "s"],
        "query_tail_s": [info["tail_s"], "s", f"p{info['tail_pct']}", f"n={info['queries']}"],
        "fail_frac": [info["fail_frac"], "ratio"],
        "rounds": info["rounds"], "round_walls": info["round_walls"],
        "round_cpus": info["round_cpus"],
        "session_s": info["session_s"], "gen_s": info["gen_s"],
        "cold_s": info["cold_s"], "warm_up_s": info["warm_up_s"],
        "cold_calls": info["cold_calls"], "warm_calls": info["warm_calls"],
        "host.load1": [h0["load1"], h1["load1"]], "host.canary_s": [h0["canary_s"], h1["canary_s"]],
        "host.steal_s": [h1["steal_s"] - h0["steal_s"], "s"],
    }
    print("perfbench " + json.dumps(summary))
    if args.trace:
        layers = dict(res["layers"])
        layers["host.load1"] = max(h0["load1"], h1["load1"])
        layers["host.canary_s"] = max(h0["canary_s"], h1["canary_s"])
        layers["fail_frac"] = info["fail_frac"]
        detail = res["detail"]
        print("perfbench-trace " + json.dumps(detail))
        if args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump({"spans": run.tracer.spans, "detail": detail, "layers": layers}, f)
        metrics = _metric_block(layers, PER_LAYER)
    else:
        metrics = _metric_block(e2e, END_TO_END)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
