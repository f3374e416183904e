"""Seeded end-to-end benchmark of the geograypher_spark pipelines.

    python3 perfbench/run.py --workload forward_survey --seed 1 --seconds 8 --trace 0

Run from the repository root (the directory holding ``geograypher_spark``).
With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a traced run. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records provenance. A wrong output or a failed iteration makes
the exit code 1. Workloads, metrics and the layer each metric belongs to
are described in ``perfbench/README.md``.

Untraced run, one driver process on ``local[nproc]``:
  1. setup: launch the JVM, build the session, warm the Python workers;
  2. generate the workload's inputs from the seed (not timed);
  3. first iteration, with every plan, broadcast and worker import cold
     (not reported here: the traced run reports it);
  4. steady iterations, started while ``--seconds`` have not passed since
     the first of them began, each after a full garbage collection. Every
     iteration is checked;
  5. two more setups, each stopping the session and building it again in
     the same JVM (new SparkContext, new Python workers); ``setup_s`` is
     the median of the three.

Traced run: one setup, one cold iteration (``trace.first_iter_s``), then
untraced and traced iterations alternate while ``--seconds`` have not
passed. Layer numbers are medians over the traced iterations; the untraced
ones give the overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness as H  # noqa: E402
import workloads as W  # noqa: E402

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
             "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "self_s": "s", "rows_out": "rows", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
    "task_skew": "ratio", "candidate_rows": "rows", "refine_ratio": "ratio",
    "refine_arrow": "bool", "candidate_pairs": "pairs", "dup_ratio": "ratio",
    "visible_ratio": "ratio", "pixels": "px", "groups": "count",
    "bytes_written": "bytes", "files": "count", "resume_s": "s",
    "precision": "ratio", "spans": "rows", "wall_s": "s",
    "untraced_wall_s": "s", "overhead_s": "s", "coverage": "ratio",
    "first_iter_s": "s",
}


def unit_of(name: str) -> str:
    return E2E_UNITS.get(name) or LAYER_UNITS[name.rsplit(".", 1)[1]]


class Runner:
    """Runs, times and checks iterations; counts failures."""

    def __init__(self, wl, spark_of, out_root: str):
        self.wl = wl
        self.spark_of = spark_of
        self.out_root = out_root
        self.attempted = self.failed = 0
        self.digest = None
        self.i = 0

    def iteration(self, tr: H.Tracer | None = None) -> float | None:
        """One checked iteration; returns its wall seconds, or None if it
        raised or its output was wrong."""
        spark = self.spark_of()
        tr = tr or H.Tracer(spark, False)
        out = os.path.join(self.out_root, str(self.i))
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            self.wl.run(spark, tr, self.i, out)
            wall = time.perf_counter() - t0
            self.wl.cleanup()
            digest = self.wl.verify(out, self.i)
            if self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                raise W.CheckError(f"iteration {self.i}: output digest changed")
            if tr.enabled:
                b, f = H.dir_bytes(out, skip="ckpt")
                tr.sample("sinks.bytes_written", b)
                tr.sample("sinks.files", f)
                if tr.it == 0:
                    # counters re-read the outputs, so run them before cleanup
                    self.wl.counters(spark, tr)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            wall = None
        finally:
            shutil.rmtree(out, ignore_errors=True)
            self.i += 1
        return wall


# setups per untraced run; setup_s is their median
SETUPS = 3


def run_untraced(bench, runner, mem, seconds: float, generate) -> dict:
    setups = [bench.setup()]
    generate()
    first = runner.iteration()
    walls: list[float] = []
    peaks: list[float] = []
    # start iterations while time is left: the steady phase lasts at least
    # ``seconds`` and overruns it by less than one iteration. Each starts
    # from a collected heap, so its peak memory does not depend on how far
    # the heap grew in the iterations before it
    t_end = time.perf_counter() + seconds
    while first is not None and time.perf_counter() < t_end:
        bench.collect_garbage()
        mem.reset()
        w = runner.iteration()
        if w is None:
            break
        walls.append(w)
        peaks.append(mem.peak_mb())
    # the first setup launched the JVM; the others rebuild the session and
    # restart the Python workers in it
    for _ in range(SETUPS - 1):
        bench.stop_session()
        setups.append(bench.setup())
    wall = statistics.median(walls) if walls else float("nan")
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "rows_per_s": runner.wl.n_units / wall,
        "peak_rss_mb": statistics.median(peaks) if peaks else float("nan"),
    }
    print(json.dumps({"setups_s": setups, "first_iter_s": first,
                      "walls_s": walls, "peaks_mb": peaks}), file=sys.stderr)
    return metrics


def run_traced(bench, runner, seconds: float, generate) -> dict:
    bench.setup()
    generate()
    # cold: codegen, broadcasts, worker imports
    first = runner.iteration()
    untraced, traced, coverage = [], [], []
    tr = H.Tracer(bench.spark, True)
    t_end = time.perf_counter() + seconds
    while first is not None and time.perf_counter() < t_end:
        u = runner.iteration()
        n0 = len(tr.spans)
        t = runner.iteration(tr)
        if u is None or t is None:
            break
        untraced.append(u)
        traced.append(t)
        self_s = sum(s.end - s.start - s.child_s for s in tr.spans[n0:])
        coverage.append(self_s / t)
        tr.release()
        tr.it += 1
    n_traced = tr.it
    bench.stop_session()            # closes the event log
    if not traced:
        return {}
    log, stage_tasks = H.read_event_log(bench.event_dir)
    metrics = H.layer_metrics(tr.spans, n_traced, log, stage_tasks)
    for name, vals in tr.samples.items():
        metrics[name] = statistics.median(vals)
    metrics.update({k: v for k, v in tr.counters.items() if not k.startswith("_")})
    metrics["aggregates.groups"] = metrics["aggregates.rows_out"]
    metrics["trace.wall_s"] = statistics.median(traced)
    metrics["trace.untraced_wall_s"] = statistics.median(untraced)
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - metrics["trace.untraced_wall_s"]
    metrics["trace.coverage"] = statistics.median(coverage)
    metrics["trace.first_iter_s"] = first
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import geograypher_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import geograypher_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = W.WORKLOADS[args.workload](args.seed, args.tiny)
    bench = H.Bench(ROOT, work, event_log=bool(args.trace))
    mem = H.PssSampler()
    runner = Runner(wl, lambda: bench.spark, os.path.join(work, "out"))

    def generate() -> None:
        inp = os.path.join(work, "inputs")
        os.makedirs(inp, exist_ok=True)
        sizes = wl.generate(bench.spark, inp)
        print(json.dumps({"provenance": bench.provenance(
            args.seed, args.workload, sizes)}))

    mem.start()
    try:
        if args.trace:
            metrics = run_traced(bench, runner, args.seconds, generate)
        else:
            metrics = run_untraced(bench, runner, mem, args.seconds, generate)
    finally:
        mem.stop()
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    names = list(E2E_UNITS) if not args.trace else H.per_layer_names()
    values = {n: float(metrics.get(n, 0.0)) for n in names}
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        # a failed run has no timings; JSON has no NaN
        "metrics": {n: {"value": v if math.isfinite(v) else 0.0, "unit": unit_of(n)}
                    for n, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
