"""Repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload ingest|spatial|dedup --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root (any directory works; the engine is imported
from this file's parent directory). The run makes its inputs from the
seed, starts Spark on ``local[nproc]``, measures the workload's public
calls for ``--seconds``, checks the outputs, and prints one JSON object as
the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns on Spark's event log, tags every call's jobs
with its span id and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

EVENT_LOG = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}

END_TO_END = {"setup_s": "s", "iter_s": "s"}

# per-layer metric -> unit; a workload reports 0 for a layer it leaves idle
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "mpx_per_s": "Mpx/s", "resume_noop_s": "s", "tile_bytes_per_px": "B/px",
    "pip_s": "s", "knn_s": "s", "range_s": "s", "zonal_s": "s",
    "lsh_s": "s", "ann_s": "s",
    "codecs.decode_raw_mpx_s": "Mpx/s", "codecs.decode_png_mpx_s": "Mpx/s",
    "codecs.decode_q8_mpx_s": "Mpx/s", "focal_kernels.horn_mpx_s": "Mpx/s",
    "focal.products_s": "s", "focal.partials_s": "s", "focal.compute_share": "ratio",
    "focal.python_s": "s", "focal.to_python_mb": "MB", "focal.from_python_mb": "MB",
    "catalog.write_s": "s", "catalog.bytes_written": "B",
    "catalog.read_partials_s": "s", "manifest.completed_s": "s",
    "pipeline.fresh_jobs": "count", "pipeline.fresh_stages": "count",
    "pipeline.resume_jobs": "count", "pipeline.resume_stages": "count",
    "zonal.from_partials_s": "s", "zonal.jobs": "count",
    "spatial.pip_refine_ratio": "ratio", "spatial.knn_cand_per_query": "count",
    "spatial.knn_useful_ratio": "ratio",
    "spatial.pip_jobs": "count", "spatial.pip_stages": "count",
    "spatial.knn_jobs": "count", "spatial.knn_stages": "count",
    "spatial.range_jobs": "count", "spatial.range_stages": "count",
    "spatial.knn_shuffle_mb": "MB", "spatial.range_shuffle_mb": "MB",
    "spatial.knn_task_skew": "ratio", "cellindex.cell_mpts_s": "Mpts/s",
    "dedup.lsh_jobs": "count", "dedup.lsh_stages": "count",
    "dedup.lsh_shuffle_mb": "MB", "dedup.lsh_pairs": "count",
    "similarity.ivf_assign_s": "s", "similarity.ivf_topk_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "spark.fetch_wait_s": "s",
    "trace.overhead_frac": "ratio", "trace.iter_self_s": "s",
    "host.peak_rss_mb": "MB",
}

# call spans whose job and stage counts are per-layer metrics (<call>_jobs)
COUNTED_CALLS = ("pipeline.fresh", "pipeline.resume", "spatial.pip",
                 "spatial.knn", "spatial.range", "dedup.lsh")
SHUFFLE_CALLS = {"spatial.knn": "spatial.knn_shuffle_mb",
                 "spatial.range": "spatial.range_shuffle_mb",
                 "dedup.lsh": "dedup.lsh_shuffle_mb"}
MB = 1 << 20


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark process: set-up, closed loop, checks, result."""

    def __init__(self, args, work: str):
        from perfbench import host, inputs
        from perfbench.workloads import WORKLOADS

        self.args, self.work = args, work
        self.nproc = host.nproc()
        self.conf = host.pin_env(ROOT, work)
        sizes = inputs.FULL if args.size == "full" else inputs.TINY
        self.wl = WORKLOADS[args.workload](work, args.seed, sizes, self.nproc)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phases: dict[str, float] = {}
        self.setup: dict[str, float] = {}
        self.iters: list[dict] = []
        self.results: list[tuple] = []
        self.peak_rss_mb: float | None = None

    @contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, reported as context."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def session(self, extra: dict | None = None):
        from pycuda_raster_spark.session import get_spark

        return get_spark("perfbench", cores=self.nproc,
                         shuffle_partitions=self.nproc,
                         extra_conf={**self.conf, **(extra or {})})

    def set_up(self):
        """Session start (with the JVM launch) -> inputs bound -> warm-up
        slice done. Engine-made inputs are built in between, untimed."""
        t0 = time.perf_counter()
        spark = self.session()
        t1 = time.perf_counter()
        self.wl.bind(spark)
        with self.phase("materialize"):
            self.wl.materialize(spark)
        t2 = time.perf_counter()
        self.wl.warm(spark)
        t3 = time.perf_counter()
        self.setup = {"start_s": t1 - t0, "warmup_s": t3 - t2,
                      "setup_s": t3 - t0 - self.phases["materialize"]}
        return spark

    def loop(self, spark, tracer, seconds: float) -> list[dict]:
        """Closed loop: the next iteration starts when the previous returns;
        iterations run until ``seconds`` have passed, at least one."""
        iters: list[dict] = []
        t0 = time.perf_counter()
        while True:
            i = len(iters)
            self.attempted += len(self.wl.calls)
            try:
                with tracer.span("iteration", iteration=i):
                    r = self.wl.iterate(spark, tracer, i)
            except Exception:  # a failed call: counted, loop ends
                self.failed += 1
                self.errors.append(traceback.format_exc())
                break
            r["iter_s"] = sum(r[c] for c in self.wl.calls)
            iters.append(r)
            if time.perf_counter() - t0 >= seconds:
                break
        return iters

    def check(self, spark) -> list:
        from perfbench.workloads import Checks

        checks = Checks()
        try:
            self.wl.check(spark, checks)
        except Exception:  # a crashed check is a failed check
            self.errors.append(traceback.format_exc())
            checks.add("check_crashed", False)
        self.attempted += len(checks.results)
        self.failed += checks.failed
        return checks.results


def probes(bench, n: int) -> dict:
    return {"probe_1t": bench._probe(), f"probe_mt{n}": bench._probe_mt(n)}


def untraced(run: Run, args) -> dict:
    from perfbench import host
    from perfbench.trace import Tracer

    with run.phase("setup"):
        spark = run.set_up()
    with run.phase("loop"), host.RssSampler(host.jvm_pid()) as rss:
        iters = run.loop(spark, Tracer(), args.seconds)
    with run.phase("checks"):
        run.results = run.check(spark) if iters else []
    run.iters = iters
    run.peak_rss_mb = rss.peak / MB
    return {
        "setup_s": run.setup["setup_s"],
        "iter_s": median([r["iter_s"] for r in iters]),
    }


def traced(run: Run, args, trace_path: str) -> dict:
    """Half the time untraced; then a new context in the same JVM with the
    event log on for the traced half, the checks and the single-layer
    measurements."""
    from perfbench import host, trace
    from perfbench.trace import Tracer

    with run.phase("setup"):
        spark = run.set_up()
    with run.phase("loop"):
        plain = run.loop(spark, Tracer(), args.seconds / 2)
    spark.stop()
    evdir = os.path.join(run.work, "eventlog")
    os.makedirs(evdir)
    spark = run.session({**EVENT_LOG, "spark.eventLog.dir": "file://" + evdir})
    run.wl.bind(spark)
    # respawn the Python workers of the new context before timing
    spark.range(run.nproc, numPartitions=run.nproc).mapInArrow(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()
    tracer = Tracer(spark)
    with run.phase("loop"), host.RssSampler(host.jvm_pid()) as rss:
        iters = run.loop(spark, tracer, args.seconds / 2)
    run.peak_rss_mb = rss.peak / MB
    with run.phase("checks"):
        run.results = run.check(spark) if iters else []
    run.iters = iters
    with run.phase("layers"), tracer.span("layers"):
        layers = run.wl.layers(spark, tracer) if iters else {}
    spark.stop()  # closes the event log
    logs = [os.path.join(d, f) for d, _, fs in os.walk(evdir) for f in fs
            if f.startswith("events_")]
    groups = trace.read_event_logs(logs)
    spans = tracer.spans
    self_t = trace.self_times(spans)
    totals = trace.rollup(spans, groups)

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = run.setup["start_s"]
    m["session.warmup_s"] = run.setup["warmup_s"]
    m["host.peak_rss_mb"] = run.peak_rss_mb
    for key in iters[0] if iters else ():
        if key in PER_LAYER:
            m[key] = median([r[key] for r in iters])
    m.update(layers)

    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for call in COUNTED_CALLS:
        for kind in ("jobs", "stages"):
            if call in by_name:
                m[f"{call}_{kind}"] = median([totals[s.id][kind] for s in by_name[call]])
    for call, key in SHUFFLE_CALLS.items():
        if call in by_name:
            m[key] = median([totals[s.id]["shuffle_write_bytes"] / MB for s in by_name[call]])
    if "zonal.query" in by_name:
        m["zonal.jobs"] = median([totals[s.id]["jobs"] for s in by_name["zonal.query"]])
    if "spatial.knn" in by_name:
        m["spatial.knn_task_skew"] = median([
            max(t) / statistics.median(t) for t in
            (totals[s.id]["task_s"] for s in by_name["spatial.knn"]) if t and statistics.median(t) > 0])
    prod = getattr(run.wl, "products_span", None)
    if prod is not None:
        g = totals[prod]
        m["focal.python_s"] = g["python_ms"] / 1e3
        m["focal.to_python_mb"] = g["to_python_bytes"] / MB
        m["focal.from_python_mb"] = g["from_python_bytes"] / MB
    it_spans = by_name.get("iteration", [])
    for key, field, scale in (("spark.executor_cpu_s", "executor_cpu_s", 1),
                              ("spark.gc_s", "gc_s", 1),
                              ("spark.spill_mb", "spill_bytes", 1 / MB),
                              ("spark.fetch_wait_s", "fetch_wait_s", 1)):
        m[key] = median([totals[s.id][field] * scale for s in it_spans])
    m["trace.iter_self_s"] = median([self_t[s.id] for s in it_spans])
    if plain and iters:
        m["trace.overhead_frac"] = (median([r["iter_s"] for r in iters])
                                    / median([r["iter_s"] for r in plain]) - 1.0)

    with open(trace_path, "w") as f:
        json.dump({"spans": [{**s.__dict__, "self_s": self_t[s.id],
                              **{k: v for k, v in totals[s.id].items() if k != "task_s"}}
                             for s in spans]}, f, indent=1)
    return m


def report(run: Run, metrics: dict, units: dict, context: dict) -> None:
    """Human-readable lines, then the one-line JSON result."""
    n = len(run.iters)
    for r in run.results:
        print(f"check {r[0]}: {'ok' if r[1] else 'FAILED'} {r[2]}")
    for err in run.errors:
        print(err, file=sys.stderr)
    if run.iters:
        for key in run.iters[0]:
            xs = sorted(r[key] for r in run.iters)
            print(f"call {key}: median {median(xs):.6g} min {xs[0]:.6g} "
                  f"max {xs[-1]:.6g} (n={n})")
    print(f"failed_frac: {run.failed / max(run.attempted, 1):.6g} ratio "
          f"({run.failed}/{run.attempted})")
    print("context " + json.dumps(context))
    out = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    for k in units:
        print(f"metric {k}: {metrics[k]:.6g} {units[k]}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "pycuda_raster_spark", "session.py")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: the engine is not next to {HERE}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import bench  # host probes (bench.py stays the one copy)
    import pyspark.sql  # noqa: F401  (engine and Spark imports count as set-up)

    from perfbench import host, workloads  # noqa: F401
    import_s = time.perf_counter() - t0

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)
    try:
        run = Run(args, work)
        context = {"nproc": run.nproc, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}
        with run.phase("probes"):
            context["before"] = probes(bench, run.nproc)
        with run.phase("inputs"):
            run.wl.prepare()
        try:
            if args.trace:
                path = os.path.join(state, f"trace-{args.workload}-seed{args.seed}.json")
                metrics = traced(run, args, path)
                context["trace_file"] = os.path.relpath(path, ROOT)
                units = PER_LAYER
            else:
                metrics = untraced(run, args)
                metrics["setup_s"] += import_s  # the process paid for importing
                units = END_TO_END
            context["setup"] = {**run.setup, "import_s": import_s}
        finally:
            with run.phase("shutdown"):
                host.shutdown_jvm()
        with run.phase("probes"):
            context["after"] = probes(bench, run.nproc)
        context["phases_s"] = run.phases
        context["peak_rss_mb"] = run.peak_rss_mb
        if not run.iters:
            for err in run.errors:
                print(err, file=sys.stderr)
            print("perfbench: no iteration completed", file=sys.stderr)
            return 1
        report(run, metrics, units, context)
        return 0
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
