"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout holding the ``feature_store_test_spark``
package. Generates the workload's inputs from the seed, starts the session
exactly as users get it (``session.get_spark()``), runs one warm-up pass,
then measures passes until ``--seconds`` of pass time have elapsed, checking
every pass's outputs outside its timing. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``; per-layer metrics from a traced run with
``--trace 1``). The line before it describes the host and the samples.
Everything the run writes stays under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_DIR = ROOT / ".perfbench_run"
DRIVER_MEMORY = "2g"
MIN_BATCHES = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(scratch: Path) -> None:
    """Pin the session's size and where it writes, before the JVM starts:
    all granted cores, a heap that fits a small host (get_spark's default is
    24g), and spill, temp and package files under this run's scratch dir."""
    for d in ("local", "tmp"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _host(jvm_pid: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "jvm_pid_comm": Path(f"/proc/{jvm_pid}/comm").read_text().strip(),
    }


class Runner:
    def __init__(self, workload, tracer):
        self.wl = workload
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def one_pass(self, **kw) -> dict | None:
        """A timed pass, then its checks. Counts every public call as an
        attempted operation and every exception or failed check as failed."""
        before = len(self.tr.spans)
        try:
            st = self.wl.run_pass(self.tr.new_trace("pass"), **kw)
        except Exception:  # noqa: BLE001 — the run reports the failure
            self.failures.append(traceback.format_exc(limit=4))
            st = None
        calls = [s for s in self.tr.spans[before:] if "." in s.name]
        self.attempted += len(calls)
        self.failed += sum(s.error is not None for s in calls)
        if st is None:
            self.failed += 1
            self.attempted += 1
            return None
        self.tr.resolve_jobs()
        try:
            n, fails = self.wl.check(st)
        except Exception:  # noqa: BLE001
            n, fails = 1, [traceback.format_exc(limit=4)]
        self.attempted += n
        self.failed += len(fails)
        self.failures += fails
        st["spans"] = self.tr.spans[before:]
        self.wl.finish_pass(st)
        return st

    def measure(self, seconds: float) -> list[dict]:
        """Passes until `seconds` of pass time and MIN_BATCHES batch samples:
        a pipeline pass times one batch, and its first measured pass still
        runs warmer code than the next, so a median needs three."""
        out, spent, batches = [], 0.0, 0
        while spent < seconds or batches < MIN_BATCHES:
            st = self.one_pass()
            if st is None:
                break
            out.append(st)
            spent += st["run_s"]
            batches += len(st["batches"])
        return out


def main(argv=None) -> int:
    args = _parse(argv)
    os.chdir(ROOT)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import feature_store_test_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    import metrics
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # everything this run writes: inputs, stores, spill, temp files
    scratch = RUN_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    _environment(scratch)

    # the JVM and its Python workers inherit fd 1; send their chatter to
    # stderr so the result stays the last line of stdout
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    work = scratch / "work"
    work.mkdir()
    from pyspark import SparkContext

    spark = None
    try:
        t0 = time.perf_counter()
        from feature_store_test_spark.session import get_spark

        spark = get_spark()
        get_spark_s = time.perf_counter() - t0
        jvm = SparkContext._gateway.proc
        tracer = Tracer(spark.sparkContext, enabled=False)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, str(work), args.seed)
        wl.prepare()  # input generation: outside every metric
        runner = Runner(wl, tracer)

        warm = runner.one_pass(**wl.warmup_kwargs)
        # a failed warm-up is counted in `failed`; setup is then the session alone
        setup_s = get_spark_s + (warm["run_s"] if warm else 0.0)
        passes = runner.measure(args.seconds)
        traced = []
        if args.trace:
            tracer.enabled = True
            traced = runner.measure(args.seconds)
        peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm.pid)
        host = _host(jvm.pid)

        if not passes or (args.trace and not traced):
            # the program failed before a pass completed: nothing to report
            values = dict.fromkeys(metrics.PER_LAYER if args.trace else metrics.END_TO_END, 0.0)
        elif args.trace:
            values = metrics.per_layer(traced, passes, get_spark_s)
        else:
            values = metrics.end_to_end(passes, setup_s, peak_rss)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "host": host,
            "shape": wl.shape,
            "samples": metrics.samples(passes),
            "failures": runner.failures[:5],
        }
        out_dir = RUN_DIR / "out"
        out_dir.mkdir(exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            tracer.dump(str(out_dir / f"spans-{stem}.json"))
        result = {
            "correct": runner.failed == 0 and bool(passes),
            "attempted": max(runner.attempted, 1),
            "failed": runner.failed,
            "metrics": metrics.with_units(values),
        }
        (out_dir / f"result-{stem}.json").write_text(json.dumps({**detail, **result}, indent=1))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    for f in runner.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(detail), file=result_out)
    print(json.dumps(result), file=result_out)
    result_out.flush()
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
