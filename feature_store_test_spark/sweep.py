"""Full-registry scale sweep: EVERY registered query timed cold at the
base SF (default sf0.1, bench BASE profile) and on the 10x scaleprobe
replica (bench SCALE profile), written to SCALE_SWEEP.json.

This is the audit that catches scale pathologies the 30-query headline
bench never touches (round 2: q39's 749s band join, ANN retrain storms;
round 3: q83's data-sized salt fan-out). A ratio near 1x means the query
is still floor-dominated at ~6M-row lineitem; near 10x means linear
data-bound work; far above flags quadratic candidate growth / broadcast
overflow / skew — except where the OUTPUT itself grows superlinearly by
declared semantics (q39 exploded pairs, q50 head-fingerprint pairs),
which the ratio can't distinguish from a bad plan; read those rows with
their documented cost models.

Run:  python -m feature_store_test_spark.sweep
Env:  SPARK_GRAFT_SF_DIR (base dir), SPARK_GRAFT_SWEEP_SKIP_10X=1 (x1 only)
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_module():
    """``bench.py`` (repo root, outside the package): the one home of the
    BASE/SCALE profile literals that sweep and scaleprobe time under."""
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    import bench

    return bench


def cold_min(spark, fn, data_dir: str, baseline_rdds: set[int], n_runs: int = 2) -> float:
    """Min-of-``n_runs`` cold-cache wall seconds of ``fn(spark, data_dir)``
    drained through a noop write. Every cache a run leaves behind
    (DataFrame caches, managed caches, RDDs persisted since
    ``baseline_rdds``) is released before the next run, and the min
    drops the odd multi-second GC pause a single shot absorbs from the
    preceding queries' garbage."""
    from feature_store_test_spark.registry import release_caches, release_new_rdds

    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        release_caches()
        release_new_rdds(spark, baseline_rdds)
    return min(runs)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from feature_store_test_spark.registry import all_queries, persistent_rdd_ids
    from feature_store_test_spark.session import get_spark

    # file-split confs are owned by bench's profiles, set before any
    # timing, so no extra_conf here
    spark = get_spark(app_name="fsts-sweep")
    bench = bench_module()

    with_10x = os.environ.get("SPARK_GRAFT_SWEEP_SKIP_10X", "0") != "1"
    scale_dir = None
    if with_10x:
        from feature_store_test_spark.scaleprobe import ensure_replica

        scale_dir = ensure_replica(spark)

    specs = all_queries()
    baseline_rdds = persistent_rdd_ids(spark)

    def run_once(name: str, data_dir: str) -> float:
        return cold_min(spark, specs[name].fn, data_dir, baseline_rdds, n_runs=1)

    def run_timed(name: str, data_dir: str) -> float:
        return cold_min(spark, specs[name].fn, data_dir, baseline_rdds)

    out: dict[str, dict] = {}
    bench.set_profile(spark, bench.BASE_PROFILE)
    # warm every query's JVM/codegen path at the smallest SF so the first
    # timed queries don't absorb cold-start JIT (without this, whichever
    # query runs first reads 5-8x slower than steady state)
    for name in specs:
        try:
            run_once(name, "/root/testdata/sf0.001")
        except Exception:  # noqa: BLE001 — recorded in the timed pass
            pass
    spark.sparkContext._jvm.System.gc()
    time.sleep(2.0)
    for name in specs:
        try:
            out[name] = {"x1": round(run_timed(name, sf_dir), 3)}
        except Exception as e:  # noqa: BLE001 — sweep must record, not die
            out[name] = {"err": str(e)[:200]}

    if with_10x and scale_dir:
        spark.sparkContext._jvm.System.gc()
        time.sleep(2.0)
        bench.set_profile(spark, bench.SCALE_PROFILE)
        for name in specs:
            if "err" in out[name]:
                continue
            if specs[name].scale_demo:
                # output-bound demo views (q39's exploded dup² pairs):
                # their x10 wall measures OUTPUT volume by declared
                # semantics, not plan quality — the bounded twin (q39b)
                # carries the scale signal
                out[name]["skipped_10x"] = "output-bound demo view"
                continue
            try:
                t = run_timed(name, scale_dir)
                out[name]["x10"] = round(t, 3)
                out[name]["ratio"] = round(t / max(out[name]["x1"], 1e-9), 2)
            except Exception as e:  # noqa: BLE001
                out[name]["err"] = str(e)[:200]
        bench.set_profile(spark, bench.BASE_PROFILE)

    path = os.path.join(_REPO_ROOT, "SCALE_SWEEP.json")
    x1_tot = sum(v.get("x1", 0.0) for v in out.values())
    x10_tot = sum(v.get("x10", 0.0) for v in out.values())
    result: dict[str, dict] = {
        "_totals": {
            "total_x1_sec": round(x1_tot, 2),
            "total_x10_sec": round(x10_tot, 2),
            "total_ratio": round(x10_tot / x1_tot, 2) if x1_tot else None,
            "n_queries": len(out),
            "protocol": (
                "min-of-2 cold-cache runs after an sf0.001 warmup pass; "
                f"x1 = sf0.1 under bench.BASE_PROFILE "
                f"({bench.profile_desc(bench.BASE_PROFILE)}), x10 = scaleprobe "
                f"replica under bench.SCALE_PROFILE "
                f"({bench.profile_desc(bench.SCALE_PROFILE)})"
            ),
        }
    }
    # the 100x probe (SPARK_GRAFT_SCALE_COPIES=100, 19-query subset) is
    # measured out-of-band and carried across regenerations
    if os.path.exists(path):
        try:
            with open(path) as f:
                probe100 = json.load(f).get("_probe100")
            if probe100:
                result["_probe100"] = probe100
        except Exception:  # noqa: BLE001
            pass
    result.update(out)
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    flagged = {
        n: v
        for n, v in out.items()
        if "err" in v or v.get("ratio", 0) > 12
    }
    print(
        f"\n{len(out)} queries  x1 total {x1_tot:.1f}s  "
        f"x10 total {x10_tot:.1f}s  flagged {json.dumps(flagged)}"
    )


if __name__ == "__main__":
    main()
