"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload redcap_etl --seed 1 --seconds 15 --trace 0

Builds the session through the package's own ``build_session`` on
``nproc`` cores, generates the workload's inputs from ``--seed``, runs a
single closed-loop client (the next operation starts only after the
previous one completed) for about ``--seconds`` seconds, checks every
output, and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON ``info`` object: environment, input sizes, raw samples and
the host-contention flag. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from spans import Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 5
# A fixed G1 young generation: with adaptive eden sizing the driver's peak
# RSS moved by 1.6-2.3 GB between otherwise equal runs, so it tracked GC
# pause heuristics rather than what the program keeps alive.
YOUNG_GEN = "-Xmn512m"


def pin_environment() -> dict:
    """Cores, heap and scratch locations, all inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(6, int(phys_gb // 4)))
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    return {"nproc": nproc, "heap": f"{heap_gb}g", "young_gen": YOUNG_GEN, "phys_gb": round(phys_gb, 1)}


class Harness:
    """Owns the session, the tracer and the run's bookkeeping."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.work = WORK
        self.spark = None
        self.tracer = Tracer(bool(args.trace), lambda: self.spark)
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}  # layer counters the tracer cannot see
        self.info: dict = {}
        self.jvm_pid = None

    # -- session ---------------------------------------------------------

    def build_session(self) -> None:
        from redcap_omop_etl_spark.session import _BASE_CONF, build_session

        tr = self.tracer
        extra = {
            "spark.driver.extraJavaOptions": _BASE_CONF["spark.driver.extraJavaOptions"]
            + f" -Djava.io.tmpdir={WORK / 'tmp'} {YOUNG_GEN}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        }
        with tr.span("session", "build_session"):
            self.spark = build_session("perfbench", extra_conf=extra)
        with tr.span("session", "first_job"):
            self.spark.range(100_000).selectExpr("sum(id)").collect()
        if self.jvm_pid is None:
            self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def release(self) -> None:
        from redcap_omop_etl_spark.caching import clear_session_memos, unpersist_operator_caches

        with self.tracer.span("caching", "release"):
            tracked = unpersist_operator_caches()
            memos = clear_session_memos()
        self.count("caching.tracked_frames", tracked)
        self.count("caching.memo_entries", memos)

    def setup(self, generate) -> float:
        """``SETUP_REPS`` full set-ups (session build, first job, input
        generation); the first one launches the JVM, later ones stop and
        rebuild the session in it. Returns the median rep."""
        reps = []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.release()
                self.spark.stop()
                self.spark = None
            t0 = time.perf_counter()
            self.build_session()
            with self.tracer.span("harness", "generate"):
                generate()
            reps.append(time.perf_counter() - t0)
        self.info["setup_reps_s"] = [round(r, 3) for r in reps]
        return statistics.median(reps)

    # -- bookkeeping -----------------------------------------------------

    def count(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def op(self, fn, *a):
        """Run one client operation. ``fn`` returns ``(sample, problem)``:
        an operation that raises, or whose output check names a problem,
        counts as failed. The sample of a completed operation is kept
        either way, so a wrong result still shows its cost."""
        self.attempted += 1
        try:
            sample, problem = fn(*a)
        except Exception as exc:  # noqa: BLE001 - the run must report, not die
            traceback.print_exc()
            print(f"perfbench: operation failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            self.failed += 1
            return None
        if problem:
            print(f"perfbench: wrong output: {problem}", file=sys.stderr)
            self.failed += 1
        return sample

    def calibrate(self) -> dict:
        """Fixed single-core Python loop and fixed all-core JVM aggregate;
        comparing them across the run flags a contended host."""
        with self.tracer.span("harness", "calibrate"):
            t0 = time.perf_counter()
            x = 0
            for i in range(3_000_000):
                x += i * i
            py_s = time.perf_counter() - t0
            probe = "select sum(id * 2 + 1) from range(50000000)"
            self.spark.sql(probe).collect()  # warm-up: codegen
            t0 = time.perf_counter()
            self.spark.sql(probe).collect()
            jvm_s = time.perf_counter() - t0
        return {"py_s": round(py_s, 4), "jvm_s": round(jvm_s, 4)}

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.info["peak_rss_kb"] = {"jvm": jvm_kb, "python": py_kb}
        return (jvm_kb + py_kb) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import workloads  # noqa: E402 - imports the package under test

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    env = pin_environment()
    h = Harness(args)
    t_start = time.perf_counter()
    try:
        end_to_end = workloads.WORKLOADS[args.workload](h)
        calib = h.info.pop("calibration")
        py = [c["py_s"] for c in calib]
        h.info["contended"] = max(py) > 1.3 * min(py)
        h.info["calibration"] = calib
        wall = time.perf_counter() - t_start
        per_layer = dict.fromkeys(workloads.PER_LAYER_METRICS, 0.0)
        per_layer.update(h.tracer.layer_metrics(wall))
        per_layer.update(h.layer)
    finally:
        h.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        names, unit = workloads.PER_LAYER_METRICS, workloads.layer_unit
        metrics = {k: {"value": per_layer[k], "unit": unit(k)} for k in names}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in workloads.UNITS.items()}
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "wall_s": round(wall, 3), **env, **h.info}
    print(json.dumps({"info": info}), flush=True)
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
