"""Benchmark harness for the tile engine.

    python3 tilebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: serve_tiles and spark_queries (listed in BENCHMARK.json),
serve_analytics and ingest.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes stays under ``.tilebench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_tiles", "serve_analytics", "spark_queries", "ingest")
DRIVER_MEM = "4g"
# one-thread BLAS/OpenMP pools and a fixed hash seed, for this process, the
# server and Spark's Python workers; pinned before the interpreter starts
PINNED = {
    "PYTHONHASHSEED": "0",
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def log(msg: str) -> None:
    print(f"[tilebench] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str, nproc: int) -> dict:
    env = {
        **PINNED,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": ROOT,
    }
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    return env


def load_canon():
    """tools/check_entry.py's canonicalisation, imported rather than copied.
    Its module body prepends a fixed path to sys.path; undo that."""
    import __spark_entry__  # noqa: F401  (resolved from the checkout first)

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "tilebench_check_entry", os.path.join(ROOT, "tools", "check_entry.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def cpu_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop: the host's speed at the time,
    printed before and after each run so runs made in a slower window show."""
    t, acc = time.perf_counter(), 0
    for i in range(2_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1000.0


def end_to_end(res: dict) -> tuple[dict, list[str]]:
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "p50_ms": (statistics.median(res["op_ms"]), "ms"),
        "throughput": (res["throughput"], "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    value, label = res["tail"]
    if value is not None:
        metrics["tail_ms"] = (value, "ms")
    lines = [f"tail_ms: {label}"]
    rate = res["failed"] / res["attempted"]
    lines.append(f"error_rate {rate:.6g} (failed {res['failed']} of {res['attempted']} attempted)")
    return metrics, lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p for p in ("bench.py", "__spark_entry__.py", "tools/check_entry.py",
                    "geotrellis_landsat_emr_demo_spark/server.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        log(f"not a checkout of the engine, missing: {', '.join(missing)}")
        return 2
    if any(os.environ.get(k) != v for k, v in PINNED.items()):
        os.environ.update(PINNED)
        os.execv(sys.executable, [sys.executable] + sys.argv)

    sys.path.insert(0, ROOT)
    import procs

    procs.adopt_orphans()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".tilebench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    env = pin_environment(run_dir, nproc)
    print("env " + json.dumps({
        **env, "nproc": nproc, "loadavg": [round(v, 2) for v in os.getloadavg()],
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
    }), flush=True)

    probe0 = cpu_probe_ms()
    cpu0 = cpu_times()
    try:
        import serve

        if args.workload.startswith("serve_"):
            res = serve.run_serve(args.workload, work, args.seed, args.seconds,
                                  args.trace, nproc, dict(os.environ), log)
        else:
            import sparkjobs

            serve.ensure_catalog(work, nproc, log)  # a checkout's first run builds it
            if args.workload == "spark_queries":
                res = sparkjobs.run_spark_queries(run_dir, args.seed, args.seconds, args.trace,
                                                  nproc, log, load_canon())
            else:
                res = sparkjobs.run_ingest(run_dir, args.seed, args.seconds, args.trace,
                                           nproc, log)
    finally:
        # every process the run started has ended before it reports
        left = procs.end_all()
        if left:
            log(f"ended {len(left)} process(es) still running: {left}")
        shutil.rmtree(run_dir, ignore_errors=True)

    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    idle = delta[3] + delta[4]
    print(f"host cpu during the run: busy {1 - idle / sum(delta):.1%}, steal {delta[7] / sum(delta):.1%}")
    print(f"cpu probe: {probe0:.1f} ms before, {cpu_probe_ms():.1f} ms after")
    e2e, lines = end_to_end(res)
    for line in lines:
        print(line)
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if args.workload in {w["name"] for w in spec["workloads"]}:
            # every listed metric; 0 where this workload does not reach the layer
            names = list(units)
        else:
            names = sorted(res["layer"])
        metrics = {
            n: {"value": float(res["layer"].get(n, 0.0)), "unit": units.get(n) or _unit(n)}
            for n in names
        }
    else:
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if "_mb" in name:
        return "MB"
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith(("_frac", "_hit", "_util", "skew", "overhead")) else "count"


if __name__ == "__main__":
    sys.exit(main())
