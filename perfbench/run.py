"""Layered benchmark of the tileigi_spark tile engine.

Run from the repository root:

    python3 perfbench/run.py --workload polygons --seed 1 --seconds 10 \
        --trace 0
    python3 perfbench/run.py --list      # every metric with its unit

One driver process runs Spark local[<cores>] and submits one job at a
time: a closed loop with one client. A run

1. starts the session, warms the Python workers and stages the seeded
   inputs to parquet, SETUP_REPS times over; setup_s is session start +
   warm-up + the median staging time;
2. with --trace 0, runs timed iterations for --seconds (at least one)
   and reports the end-to-end metrics as medians over iterations. The
   first iteration is timed cold, JIT and code generation included: a
   render through the CLI is a fresh JVM that pays them every time;
3. with --trace 1, runs one warm-up iteration, one plain iteration for
   the Spark stage totals and the untraced wall, then traced iterations
   for --seconds (each layer's output materialized inside its span), the
   offline kernel probes and the per-task fixed-cost calibration, and
   reports the per-layer metrics.

The first output of a run is the reference later ones must match,
unless digests.json pins one for this workload and seed.

Every iteration's output is checked (check.py); a failed check or an
exception counts in `failed`. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. All files go under
.perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--list", action="store_true",
                   help="print every metric with its unit and exit")
    args = p.parse_args(argv)
    if not args.list and not args.workload:
        p.error("--workload is required")
    return args


def list_metrics() -> None:
    """Print every metric by name with its unit; per-layer metrics also
    name the end-to-end metric and workload they should move."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "layers.json").read_text())
    moves = {m: lay for lay in layers["layers"] for m in lay["metrics"]}
    print("end-to-end (--trace 0):")
    for m in bench["end_to_end"]:
        print(f"  {m['name']:<40} {m['unit']:<10} {m['better']} is better,"
              f" bound {m['bound']}")
    print("per-layer (--trace 1):")
    for m in bench["per_layer"]:
        lay = moves.get(m["name"])
        where = (f"  -> {lay['moves']} on {lay['on']}" if lay else "")
        print(f"  {m['name']:<40} {m['unit']:<10}{where}")
    print(f"workloads: {', '.join(w['name'] for w in bench['workloads'])}; "
          f"held-out seed {layers['held_out_seed']}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run of one workload and seed."""

    def __init__(self, args, work: Path):
        from perfbench import check, harness, workloads

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.harness = harness
        self.checker = check.Checker(args.workload, args.seed)
        self.wl_cls = workloads.WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.spark = self.proc = None

    def iteration(self, out: str, after_run=None):
        """reset, run (timed), check; returns the wall time or None if
        the iteration raised or failed its check. after_run() is called
        between the run and its check."""
        wl = self.wl
        wl.reset(out)
        if self.spark is not None:
            # collect the previous iteration's garbage before the clock
            # starts, not as a pause inside this one
            self.spark.sparkContext._jvm.System.gc()
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            wl.run(out)
            wall = time.perf_counter() - t0
            if after_run is not None:
                after_run()
            self.checker.check(wl.digest(out))
        except Exception:
            self.failed += 1
            log("iteration failed:\n" + traceback.format_exc())
            return None
        log(f"iteration {self.attempted}: {wall:.3f}s, "
            f"{wl.results} results")
        return wall

    def setup(self) -> float:
        h = self.harness
        t0 = time.perf_counter()
        self.spark, self.proc = h.spark_session(str(self.work), self.cores)
        t_session = time.perf_counter() - t0
        t0 = time.perf_counter()
        h.warm_workers(self.spark, self.cores)
        t_warm = time.perf_counter() - t0
        self.wl = self.wl_cls(self.spark, str(self.work), self.args.seed,
                              self.cores)
        stage = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(self.wl.staged, ignore_errors=True)
            t0 = time.perf_counter()
            self.wl.stage()
            stage.append(time.perf_counter() - t0)
        log(f"setup: session {t_session:.2f}s, warm-up {t_warm:.2f}s, "
            f"staging {', '.join(f'{s:.2f}' for s in stage)}s")
        return t_session + t_warm + median(stage)

    def warmup(self) -> None:
        """Untimed: the workload's own preparation, whose reference
        digest (if any) is checked like an iteration's, then, before a
        traced run, the warm-up iterations."""
        from perfbench.check import CheckFailed

        t0 = time.perf_counter()
        try:
            ref = self.wl.prepare()
        except Exception:
            ref = None
            self.attempted += 1
            self.failed += 1
            log("prepare failed:\n" + traceback.format_exc())
        if ref is not None:
            self.attempted += 1
            try:
                self.checker.check(ref)
            except CheckFailed as e:
                self.failed += 1
                log(f"prepare's render failed its check: {e}")
        log(f"prepare: {time.perf_counter() - t0:.2f}s")
        if self.args.trace:
            out = str(self.work / "warmup_out")
            for _ in range(self.wl.warmup_iterations):
                self.iteration(out)
            shutil.rmtree(out, ignore_errors=True)

    def measure(self) -> dict:
        h = self.harness
        wl = self.wl
        out = str(self.work / "out")
        walls, rates_out, rates_in = [], [], []
        first = self.attempted
        with h.RssSampler(self.proc.pid) as rss:
            end = time.perf_counter() + self.args.seconds
            while self.attempted == first or time.perf_counter() < end:
                wall = self.iteration(out)
                if wall is not None:
                    walls.append(wall)
                    rates_out.append(wl.results / wall)
                    rates_in.append(wl.inputs / wall)
        return {"wall_s": (median(walls), "s"),
                "results_per_s": (median(rates_out), "rows/s"),
                "inputs_per_s": (median(rates_in), "rows/s"),
                "peak_rss_mb": (rss.peak_mb, "MB")}

    def measure_layers(self) -> dict:
        from perfbench import probes, trace
        from tileigi_spark import engine

        h = self.harness
        wl = self.wl
        spark = self.spark
        stats = h.StageStats(spark)
        # one plain iteration: Spark stage totals and the untraced wall
        st = dict.fromkeys(stats.FIELDS, 0)
        stats.mark()
        plain = self.iteration(str(self.work / "out"),
                               after_run=lambda: st.update(stats.since()))
        tracer = trace.Tracer(spark, str(self.work))
        traced, per_run = [], []
        end = time.perf_counter() + self.args.seconds
        run = 0
        while run == 0 or time.perf_counter() < end:
            run += 1
            shutil.rmtree(self.work / "trace", ignore_errors=True)
            with tracer.install(run):
                wall = self.iteration(str(self.work / f"traced{run}"))
            shutil.rmtree(self.work / f"traced{run}", ignore_errors=True)
            if wall is not None:
                traced.append(wall)
                per_run.append(tracer.of_run(run))
        spans_path = ROOT / ".perfbench_work" / "spans" / (
            f"{self.args.workload}-{self.args.seed}.jsonl")
        tracer.dump(str(spans_path))
        last = per_run[-1] if per_run else []

        def med(key):
            return median([trace.layer_times(s).get(key, 0.0)
                           for s in per_run])

        rows = trace.layer_rows(last)
        m = {}
        # extract
        m["extract.s"] = (med("extract"), "s")
        has_extract = rows.get("extract", 0) > 0
        m["extract.rows_in"] = (wl.inputs if has_extract else 0, "rows")
        m["extract.rows_out"] = (rows.get("extract", 0), "rows")
        m["extract.us_per_page"] = (
            probes.extract_pages(os.path.join(wl.staged, "pages"))
            if has_extract else 0.0, "us")
        # engine
        layers = probes.layer_inputs(last)
        geo = probes.geometry_lanes(layers) if layers else {}
        enc = (probes.encode_assemble(spark, layers, wl.layer_order)
               if layers else {})
        m["engine.cover.s"] = (med("engine.cover"), "s")
        m["engine.cover.rows_out"] = (rows.get("engine.cover", 0), "rows")
        m["engine.geometry.s"] = (med("engine.geometry"), "s")
        m["engine.geometry.pieces_out"] = (rows.get("engine.geometry", 0),
                                           "rows")
        for lane in ("points", "rect", "ragged"):
            k = f"engine.geometry.{lane}"
            m[f"{k}.us_per_feature"] = (geo.get(f"{k}.us_per_feature", 0.0),
                                        "us")
            m[f"{k}.share"] = (geo.get(f"{k}.share", 0.0), "ratio")
        m["engine.encode.s"] = (med("engine.encode"), "s")
        ppt = enc.get("engine.assemble.partials_per_tile", 0.0)
        partials = 0
        for s in last:
            if s.name == "engine.encode":
                # the fused path emits tiles; its partials never leave
                # the stage, so scale its tiles by the sampled ratio
                partials += (s.rows if s.args["fn"] == "encode_layers"
                             else round(s.rows * ppt))
        m["engine.encode.partials_out"] = (partials, "rows")
        for tier in ("point", "ring4", "line", "ragged"):
            k = f"engine.encode.{tier}.us_per_piece"
            m[k] = (enc.get(k, 0.0), "us")
        m["engine.assemble.s"] = (med("engine.assemble"), "s")
        m["engine.assemble.partials_per_tile"] = (ppt, "ratio")
        m["engine.assemble.us_per_tile"] = (
            enc.get("engine.assemble.us_per_tile", 0.0), "us")
        # spatial
        for j in ("pip", "knn"):
            m[f"spatial.{j}.s"] = (med(f"spatial.{j}"), "s")
            m[f"spatial.{j}.rows_out"] = (rows.get(f"spatial.{j}", 0),
                                          "rows")
        # partition and io
        cells = wl.cells()
        m["partition.read.s"] = (med("partition.read"), "s")
        m["partition.cells_read"] = (cells[0], "count")
        m["partition.cells_total"] = (cells[1], "count")
        m["io.write.s"] = (med("io.write"), "s")
        m["io.bytes_written"] = (wl.bytes_written, "bytes")
        m["io.tiles_resumed"] = (wl.tiles_resumed, "count")
        # spark runtime, from the plain iteration
        fixed = h.task_fixed_ms(
            spark, engine._python_stage_parts(spark, self.cores * 8))
        run_s = st["run_ms"] / 1e3
        m["spark.stages"] = (st["stages"], "count")
        m["spark.tasks"] = (st["tasks"], "count")
        m["spark.task_fixed_ms"] = (fixed, "ms")
        m["spark.executor_run_s"] = (run_s, "s")
        m["spark.executor_cpu_s"] = (st["cpu_ns"] / 1e9, "s")
        m["spark.cpu_busy_ratio"] = (
            run_s / (self.cores * plain) if plain else 0.0, "ratio")
        m["spark.shuffle_write_bytes"] = (st["shuffle_write"], "bytes")
        m["spark.shuffle_read_bytes"] = (st["shuffle_read"], "bytes")
        m["spark.gc_s"] = (st["gc_ms"] / 1e3, "s")
        m["spark.task_retry_ratio"] = (
            st["failed_tasks"] / max(1, st["tasks"]), "ratio")
        m["trace.overhead_s"] = (
            median(traced) - plain if traced and plain else 0.0, "s")
        return m


def bench(args, work: Path) -> dict:
    from perfbench import harness as h

    if args.trace:
        ticks0 = h.cpu_ticks()
        ctl0 = h.control_kernel()
    r = Run(args, work)
    try:
        setup_s = r.setup()
        r.warmup()
        if args.trace:
            metrics = r.measure_layers()
        else:
            metrics = r.measure()
            metrics["setup_s"] = (setup_s, "s")
    finally:
        if r.spark is not None:
            h.stop_session(r.spark, r.proc)
    log(f"reference digest {r.checker.expected}")
    if args.trace:
        ctl1 = h.control_kernel()
        metrics.update({k: (v, "%") for k, v in
                        h.host_weather(ticks0, h.cpu_ticks()).items()})
        metrics["host.control_kernel_s"] = ((ctl0 + ctl1) / 2, "s")
        metrics["run_fail_ratio"] = (r.failed / max(1, r.attempted),
                                     "ratio")
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.list:
        list_metrics()
        return 0
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    try:
        import tileigi_spark  # noqa: F401
        from perfbench import inputs, workloads
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"one of {sorted(workloads.WORKLOADS)}")
        return 2
    args.seed = inputs.fold_seed(args.seed)
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    work.mkdir(parents=True)
    # every temporary file (Python's, the JVM's, Spark's) stays in work;
    # the Python workers import the engine and perfbench from ROOT
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
