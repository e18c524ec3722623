#!/usr/bin/env python3
"""Benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload hfe_ml_shap --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from the seed (outside any timed region, cached under
``.bench_work/``), builds the Spark session the way a CLI invocation does
(JVM launch included), runs one cold iteration and then warm iterations,
closed loop, until ``--seconds`` have passed and at least the workload's
minimum number ran. It checks every iteration's output digests and once per
run checks against an independent oracle. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The line before it, prefixed ``# detail``, holds the
per-iteration samples, digests and the settings the run used.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import statistics
import shutil
import subprocess
import sys
import time

import workloads
from spans import KINDS, Tracer, jvm_pid, stage_totals, tree_cpu

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("hfe_ml_shap", "pit_pipeline")
SPLIT_THREADS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench",
                   help="input size; tiny is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: damage the first warm iteration's output")
    return p.parse_args(argv)


def _environment() -> dict:
    """Pin thread counts so nothing oversubscribes the vCPUs, and keep
    every file the run writes inside the checkout."""
    for k in SPLIT_THREADS:
        os.environ[k] = "1"
    dirs = {k: os.path.join(WORK, k) for k in ("inputs", "spark-local", "tmp", "out", "expected")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # the JVM writes /tmp/hsperfdata_<user> unless told not to; the session
    # JVM gets the flag through spark.driver.extraJavaOptions (see setup)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return dirs


def _generate(wl, dirs, seed) -> dict:
    fn, kwargs = wl.gen
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), fn, dirs["inputs"],
         str(seed), json.dumps(kwargs)],
        check=True, capture_output=True, text=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    def __init__(self, args, dirs):
        from bench import _steal_jiffies

        self.args, self.dirs = args, dirs
        self.wl = workloads.make(args.workload, args.size)
        self.steal = _steal_jiffies
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.reference: dict | None = None
        self.it = 0
        self.settle_cpu_s: list[float] = []

    # -- set-up ---------------------------------------------------------
    def setup(self):
        """Build the session the way a CLI invocation does: launch the
        JVM, start the session, register the inputs. Its figures are the
        session layer."""
        from taxahfe_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        drv0 = sum(tree_cpu(None))  # no JVM is running yet
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench_{self.args.workload}", master=f"local[{workloads.NPROC}]",
            extra_conf=conf,
        )
        self.wl.register(self.spark, self.paths)
        self.setup_s = time.perf_counter() - t0
        self.jvm = jvm_pid(self.spark)
        drv1, jvm1 = tree_cpu(self.jvm)
        st = stage_totals(self.spark.sparkContext, None)
        self.session_layer = {
            "wall_s": self.setup_s,
            "driver_cpu_s": drv1 - drv0,
            "executor_cpu_s": jvm1,  # the JVM's whole life so far
            "gc_s": st["gc_s"], "shuffle_write_mb": st["shuffle_write_mb"],
            "jobs": st["jobs"], "tasks": st["tasks"], "rows_out": 0,
        }

    def settle(self, idle_cores=0.25, window=0.15, limit=6.0) -> None:
        """Wait, at most ``limit`` seconds, until the process tree is idle
        (two windows under ``idle_cores`` busy cores: JIT compilation, GC
        and background work that earlier calls queued have finished)."""
        t0 = time.perf_counter()
        quiet = 0
        last = sum(tree_cpu(self.jvm))
        while quiet < 2 and time.perf_counter() - t0 < limit:
            time.sleep(window)
            now = sum(tree_cpu(self.jvm))
            quiet = quiet + 1 if (now - last) / window < idle_cores else 0
            last = now

    # -- one iteration --------------------------------------------------
    def iteration(self, traced=None):
        """Run one iteration; return (wall s, tree CPU s, probes).

        The wall time ends when the workload returns. The CPU time runs on
        until the tree is idle again, so it also holds the work the
        iteration leaves behind: dropping its caches, Python GC, and the
        JIT, JVM GC and background threads (fits a pool was not waited
        for) that are still busy when it returns."""
        self.it += 1
        out = os.path.join(self.dirs["out"], f"it{self.it}")
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        probes, err = [], None
        cpu0 = sum(tree_cpu(self.jvm))
        t0 = time.perf_counter()
        try:
            if traced is None:
                ctx = self.wl.run(self.spark, self.paths, out)
            else:
                ctx, probes = self.wl.run_traced(self.spark, self.paths, out, traced)
        except Exception as e:  # a failed op: counted, reported, run goes on
            err = f"{type(e).__name__}: {e}"[:300]
        wall = time.perf_counter() - t0
        cpu_ret = sum(tree_cpu(self.jvm))
        self.spark.catalog.clearCache()
        gc.collect()
        self.settle()
        cpu_end = sum(tree_cpu(self.jvm))
        cpu = cpu_end - cpu0
        self.settle_cpu_s.append(cpu_end - cpu_ret)
        if err is None:
            if self.args.corrupt and self.it == 2:
                self.wl.corrupt(out)
            try:
                digest = self.wl.digest(self.spark, out, ctx)
            except Exception as e:
                err = f"digest: {type(e).__name__}: {e}"[:300]
        if err is None:
            if not digest.pop("_tuning_complete", True):
                err = "dietML tuning stopped on the clock (cv_results rows != --tune_length)"
            elif self.reference is None:
                self.reference = digest
            elif digest != self.reference:
                err = f"output digest {digest} != {self.reference}"
        if err is not None:
            self.fail(f"iteration {self.it}: {err}")
        self.last_out = out
        # the digest's own Spark jobs must not spill into the next iteration
        self.settle()
        return wall, cpu, probes

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        log(f"FAILED {msg}")

    # -- checks ---------------------------------------------------------
    def check(self):
        """Once per run, outside timing: the oracle, and the digests
        against those an earlier run in this checkout recorded for the
        same seed and size."""
        self.attempted += 1
        try:
            ok, msg = self.wl.oracle(self.spark, self.paths, self.last_out)
        except Exception as e:
            ok, msg = False, f"oracle raised {type(e).__name__}: {e}"[:300]
        self.oracle_msg = msg
        if ok and self.reference is not None:
            if os.path.exists(self.expected_path):
                with open(self.expected_path) as f:
                    expected = json.load(f)
                if expected != self.reference:
                    ok, msg = False, f"digests differ from an earlier run: {expected}"
            elif self.failed == 0:
                with open(self.expected_path, "w") as f:
                    json.dump(self.reference, f)
        if not ok:
            self.fail(f"check: {msg}")
        else:
            log(f"check ok: {msg}")

    def stop(self):
        """Stop the session and wait until its JVM has exited."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def _stamps(run, steal0) -> dict:
    conf = run.spark.sparkContext.getConf()
    gates = ("TAXAHFE_ROLLUP_DRIVER_MAX_ROWS", "TAXAHFE_DRIVER_PREFIX_MAX_ROWS",
             "TAXAHFE_DRIVER_STAGE_MAX_CELLS")
    return {
        "steal_s": round((run.steal() - steal0) / 100.0, 2),
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "blas_threads": {k: os.environ[k] for k in SPLIT_THREADS},
        "gates": {g: os.environ.get(g, "default") for g in gates},
        "nproc": workloads.NPROC,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    dirs = _environment()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    try:
        import taxahfe_spark  # noqa: F401
        import bench  # noqa: F401
        import oracle_collapse  # noqa: F401
    except ImportError as e:
        log(f"the program is not next to the benchmark: {e}")
        return 2
    run = Run(args, dirs)
    t_gen = time.perf_counter()
    run.paths = _generate(run.wl, dirs, args.seed)
    # digests recorded per generated input (its directory names workload,
    # seed and size), so a later run on the same input must reproduce them
    key = os.path.basename(os.path.dirname(next(iter(run.paths.values()))))
    run.expected_path = os.path.join(dirs["expected"], f"{key}.json")
    log(f"inputs ready in {time.perf_counter() - t_gen:.1f}s: {run.paths}")
    steal0 = run.steal()
    run.setup()
    log(f"setup {run.setup_s:.3f}s")
    try:
        run.settle()  # set-up's JIT and GC stay out of the cold iteration
        cold, _cpu, _ = run.iteration()
        log(f"cold iteration {cold:.3f}s")
        warm, cpus = [], []
        budget = args.seconds / 2 if args.trace else args.seconds
        t_start = time.perf_counter()
        while len(warm) < run.wl.MIN_WARM or time.perf_counter() - t_start < budget:
            w, c, _ = run.iteration()
            warm.append(w)
            cpus.append(c)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        log(f"warm iterations {[round(x, 3) for x in warm]} cpu {[round(x, 2) for x in cpus]}")
        detail = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "setup_s": run.setup_s, "cold_job_s": cold,
            "job_s_samples": warm, "cpu_s_samples": cpus,
            "settle_cpu_s": run.settle_cpu_s,
        }
        if args.trace:
            metrics = traced_metrics(run, args, detail, _median(warm))
            samples = {}
        else:
            metrics = {
                "setup_s": (run.setup_s, "s"),
                "cold_job_s": (cold, "s"),
                "job_s": (_median(warm), "s"),
                "cpu_s": (_median(cpus), "s"),
                "driver_peak_rss_mb": (rss_mb, "MB"),
            }
            samples = {"job_s": len(warm), "cpu_s": len(cpus)}
        run.check()
        detail["stamps"] = _stamps(run, steal0)
        detail["digests"] = run.reference
        detail["oracle"] = run.oracle_msg
        detail["failures"] = run.failures
    finally:
        run.stop()
    for name, (value, unit) in metrics.items():
        log(f"{name} = {value:.6g} {unit} (median of {samples.get(name, 1)})")
    log(f"ops attempted {run.attempted}, failed {run.failed}")
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def traced_metrics(run, args, detail, job_s) -> dict:
    """Traced iterations for the second half of the run; per-layer
    figures are medians over them, counts must repeat exactly."""
    from taxahfe_spark import taxonomy

    tracer = Tracer(run.spark)
    tracer.wrap(taxonomy, "hierarchical_rollup", "taxonomy")
    per_iter, walls, coverage, placement = [], [], [], []
    t_start = time.perf_counter()
    while not per_iter or time.perf_counter() - t_start < args.seconds / 2:
        tracer.reset()
        tracer.active = True
        try:
            wall, _cpu, probes = run.iteration(traced=tracer)
            top = sum(w for _l, _s, w, parent in tracer.spans if parent is None)
            for layer, minus, fn in probes:
                fn()
                if minus:
                    for k in ("wall_s", "driver_cpu_s", "executor_cpu_s", "gc_s",
                              "shuffle_write_mb", "jobs", "tasks"):
                        tracer.layers[minus][k] -= tracer.layers[layer][k]
        finally:
            tracer.active = False
        walls.append(wall)
        coverage.append(top / wall)
        per_iter.append(({k: dict(v) for k, v in tracer.layers.items()}, dict(tracer.extra)))
        placement.append((
            sum(1 for layer, _s, _w, _p in tracer.spans if layer == "taxonomy"),
            int(tracer.layers.get("taxonomy", {}).get("jobs", 0)),
        ))
    metrics = {}
    counts_repeat = True
    for layer in workloads.LAYERS:
        for kind, unit in KINDS:
            if layer == "session":
                vals = [run.session_layer[kind]]
            else:
                vals = [it[0].get(layer, {}).get(kind, 0.0) for it in per_iter]
            if unit == "count" and len(set(vals)) > 1:
                counts_repeat = False
            metrics[f"{layer}.{kind}"] = (_median(vals), unit)
    for name, unit in workloads.EXTRA_METRICS:
        metrics[name] = (_median([it[1].get(name, 0.0) for it in per_iter]), unit)
    detail["traced_wall_s_samples"] = walls
    detail["tracing_overhead_s"] = _median(walls) - job_s
    detail["layer_wall_coverage"] = coverage
    detail["counts_repeat"] = counts_repeat
    # placement evidence, per traced iteration: rollup calls and their jobs
    calls = [n for n, _jobs in placement]
    jobs = [j for _n, j in placement]
    detail["taxonomy_calls"], detail["taxonomy_jobs"] = calls, jobs
    limit = run.wl.ROLLUP_MAX_JOBS_PER_CALL
    if limit is not None:
        run.attempted += 1
        bad = [(n, j) for n, j in placement if n == 0 or j > limit * n]
        if bad:
            run.fail(f"placement: (rollup calls, jobs) per traced iteration {placement}; "
                     f"the driver path runs at most {limit} jobs per call")
    log(f"traced iterations {[round(w, 3) for w in walls]}; overhead "
        f"{detail['tracing_overhead_s']:.3f}s over job_s {job_s:.3f}s; "
        f"top-level spans cover {[round(c, 3) for c in coverage]} of the iteration")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
