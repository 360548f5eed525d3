"""The benchmark's server entry: serves a catalog with the engine's HTTP
server, optionally with layer spans installed.

    python3 tilebench/server_main.py CATALOG [--trace-out FILE]

Prints ``PORT <n>`` once listening, serves until stdin closes, then writes
the spans (when tracing) as JSON and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("catalog")
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    import pyarrow

    # Arrow sizes its pool from OMP_NUM_THREADS, which the run pins to 1
    # for BLAS; give the parquet reader the pool an unpinned server has.
    pyarrow.set_cpu_count(len(os.sched_getaffinity(0)))

    from geotrellis_landsat_emr_demo_spark import server
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog

    tracer = None
    if args.trace_out:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    httpd, port = server.serve(Catalog(args.catalog))
    print(f"PORT {port}", flush=True)
    sys.stdin.read()  # the harness closes stdin to stop the server
    httpd.shutdown()
    httpd.server_close()
    if tracer is not None:
        with open(args.trace_out, "w") as f:
            json.dump({"spans": tracer.spans, "counts": tracer.counts}, f)


if __name__ == "__main__":
    main()
