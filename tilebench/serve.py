"""Serve workloads: a closed loop of HTTP clients against the engine's
server, started in its own process on a catalog built once per checkout."""

from __future__ import annotations

import fcntl
import hashlib
import http.client
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

import inputs
import stats

LAYER = "bench"
SETUPS = 3  # serve setup_s is the median of this many server starts + warm passes
ANALYTICS_CLIENTS = 2
ANALYTICS_CYCLES = 2  # serve_analytics cycles a traced serve_tiles run adds
EXTRA_TAG = "an-"
HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------ serve catalog


def ensure_catalog(work: str, nproc: int, log) -> dict:
    """The serve catalog and the list of stored tile keys, built by a Spark
    ingest the first time any workload runs in a checkout."""
    root = os.path.join(work, "serve")
    ready = os.path.join(root, "READY.json")
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "serve.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(ready):
            shutil.rmtree(root, ignore_errors=True)
            log("building the serve catalog (once per checkout)")
            # in its own interpreter, so the run's Spark session starts cold
            build = subprocess.run(
                [sys.executable, os.path.abspath(__file__), root, work, str(nproc)]
            )
            if build.returncode != 0:
                raise RuntimeError(f"serve catalog build failed ({build.returncode})")
        with open(ready) as f:
            meta = json.load(f)
    meta["catalog"] = os.path.join(root, "catalog")
    meta["stored"] = [tuple(k) for k in meta["stored"]]
    return meta


def _build(root: str, work: str, nproc: int) -> None:
    import sparkjobs

    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import ingest

    build_dir = os.path.join(work, "build")
    shutil.rmtree(build_dir, ignore_errors=True)
    cat = Catalog(os.path.join(root, "catalog"))
    cat.append_pandas(inputs.serve_scenes(), "images")
    spark = sparkjobs.session(build_dir, nproc)
    try:
        ingest.ingest_images(spark, cat, LAYER, max_zoom=inputs.ZOOM, min_zoom=9)
    finally:
        sparkjobs.stop(spark)
        shutil.rmtree(build_dir, ignore_errors=True)
    keys = cat.read_pandas("tiles", columns=["zoom", "x", "y", "ts"])
    stored = sorted(
        (int(r.zoom), int(r.x), int(r.y), r.ts.strftime("%Y-%m-%dT%H:%M:%SZ"))
        for r in keys.itertuples(index=False)
    )
    with open(os.path.join(root, "READY.json"), "w") as f:
        json.dump({"stored": stored}, f)


# ------------------------------------------------------------------ answers


def reference(svc, method: str, path: str, body):
    """The answer a single-threaded in-process LayerService gives, in the
    form the client keeps: a PNG's SHA-256 or the decoded JSON."""
    u = urlparse(path)
    parts = [p for p in u.path.split("/") if p]
    q = {k: v[0] for k, v in parse_qs(u.query).items()}
    head = parts[0]
    if head == "tiles":
        z, x, y = (int(v) for v in parts[2:5])
        png = svc.render_tile(parts[1], z, x, y, q["time"], q.get("operation"))
        return hashlib.sha256(png or b"").hexdigest()
    if head == "diff":
        z, x, y = (int(v) for v in parts[2:5])
        png = svc.render_diff(parts[1], z, x, y, q["time1"], q["time2"], q.get("operation", "ndvi"))
        return hashlib.sha256(png or b"").hexdigest()
    if head == "mean":
        return {"answer": svc.polygonal_mean(parts[1], parts[2], body, q["time"], q.get("otherTime"))}
    if head == "series":
        return {"answer": svc.time_series(parts[1], parts[2], float(q["lat"]), float(q["lng"]))}
    raise ValueError(f"no reference for {path}")


def same(got, want, tol: float = 1e-9) -> bool:
    """JSON equality with numbers to ``tol``; NaN matches null."""
    if isinstance(want, float) and math.isnan(want):
        return got is None
    if isinstance(want, (int, float)) and not isinstance(want, bool):
        return isinstance(got, (int, float)) and abs(got - want) <= tol
    if isinstance(want, (list, tuple)):
        return isinstance(got, list) and len(got) == len(want) and all(
            same(g, w, tol) for g, w in zip(got, want)
        )
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            same(got[k], want[k], tol) for k in want
        )
    return got == want


# ------------------------------------------------------------------ clients


class Server:
    """The benchmark's server entry in a child process."""

    def __init__(self, catalog: str, env: dict, trace_out: str | None):
        cmd = [sys.executable, os.path.join(HERE, "server_main.py"), catalog]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env, text=True
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"server did not start: {line!r}")
        self.port = int(line.split()[1])

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the server process")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _send(port: int, rid: str, method: str, path: str, body):
    """One request on a fresh connection -> (status, payload, error)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        headers = {"X-Bench-Request": rid}
        data = body.encode() if body is not None else None
        if data is not None:
            headers["Content-Type"] = "application/json"
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        if resp.getheader("Content-Type") == "image/png":
            return resp.status, hashlib.sha256(raw).hexdigest(), None
        return resp.status, json.loads(raw), None
    except (OSError, http.client.HTTPException, ValueError) as e:
        return None, None, repr(e)
    finally:
        conn.close()


def closed_loop(port, requests, clients, deadline=None, whole_cycles=False, tag=""):
    """``clients`` threads each send their next request only after the
    previous reply.  Without a deadline the list is sent once; with one,
    it is cycled until the deadline (and, with ``whole_cycles``, until the
    cycle in progress is done).  Returns one record per request:
    (request index, start, end, status, payload, error).  The server sees
    ``tag`` + index as the request id."""
    lock, nxt, out = threading.Lock(), [0], []

    def take():
        with lock:
            i = nxt[0]
            if deadline is None:
                if i >= len(requests):
                    return None
            elif time.perf_counter() >= deadline and not (whole_cycles and i % len(requests)):
                return None
            nxt[0] = i + 1
            return i

    def client():
        while (i := take()) is not None:
            method, path, body = requests[i % len(requests)]
            t = time.perf_counter()
            status, payload, err = _send(port, f"{tag}{i}", method, path, body)
            out.append((i, t, time.perf_counter(), status, payload, err))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out)


def run_phase(meta, requests, clients, seconds, env, whole_cycles, setups=1,
              trace_out=None, extra=()):
    """``setups`` times: start the server and send every distinct request
    once (the setup); then the timed closed loop on the last server, and
    after it the ``extra`` requests once, by ANALYTICS_CLIENTS clients.
    ``setup_s`` is the median setup."""
    distinct = list(dict.fromkeys(requests))
    setup, warm = [], []
    for k in range(setups):
        last = k == setups - 1
        t0 = time.perf_counter()
        srv = Server(meta["catalog"], env, trace_out if last else None)
        try:
            warm.append(closed_loop(srv.port, distinct, clients, tag=f"warm{k}-"))
            setup.append(time.perf_counter() - t0)
            if last:
                w0 = time.perf_counter()
                timed = closed_loop(srv.port, requests, clients, w0 + seconds, whole_cycles)
                wall = max(r[2] for r in timed) - w0
                rss = srv.peak_rss_mb()
                after = closed_loop(srv.port, extra, ANALYTICS_CLIENTS, tag=EXTRA_TAG)
        finally:
            srv.stop()
    spans = None
    if trace_out:
        with open(trace_out) as f:
            spans = json.load(f)
    return dict(setup_s=statistics.median(setup), distinct=distinct, warm=warm, timed=timed,
                wall=wall, rss=rss, extra=after, spans=spans)


# per-layer metrics that only /mean and /series requests produce
ANALYTICS_LAYERS = ("geom.", "queries.tiles_per_mean", "queries.mean_p50_ms.", "queries.series_p50_ms")


def _layer_metrics(trace, records, requests, tag="") -> dict:
    """Per-layer numbers from the spans of the requests in ``records`` (sent
    with request ids ``tag`` + index) and the client's latencies of them."""
    latency = {f"{tag}{i}": (e - s) * 1000.0 for i, s, e, *_ in records}
    # these requests only; the warm pass and other phases are tagged apart
    spans = [sp for sp in trace["spans"] if sp[1] in latency]
    counts: dict = {}
    for rid, per in trace["counts"].items():
        if rid in latency:
            for name, n in per.items():
                counts[name] = counts.get(name, 0) + n
    by_name: dict = {}
    for name, rid, sid, parent, start, end in spans:
        by_name.setdefault(name, []).append((rid, sid, parent, start, end))

    def durs(name):
        return [(e - s) * 1000.0 for _, _, _, s, e in by_name.get(name, [])]

    def mean(name):
        d = durs(name)
        return statistics.mean(d) if d else 0.0

    handle = {rid: (sid, s, e) for rid, sid, _, s, e in by_name.get("server.handle", [])}
    selfs = stats.self_times((sid, parent, s, e) for _, _, sid, parent, s, e in spans)
    self_ms = [selfs[sid] * 1000.0 for sid, _, _ in handle.values()]
    wait_ms = [latency[rid] - (e - s) * 1000.0 for rid, (_, s, e) in handle.items()]
    n_req = len(handle)
    reads = len(by_name.get("queries.read_tile", []))
    out = {
        "server.self_ms": statistics.median(self_ms) if self_ms else 0.0,
        "server.wait_ms": statistics.median(wait_ms) if wait_ms else 0.0,
        "queries.read_tile_ms": mean("queries.read_tile"),
        "queries.cache_hit": counts.get("queries.read_tile_cached", 0) / reads if reads else 0.0,
        "queries.tiles_per_mean": (
            len(by_name.get("geom.grid_mask", [])) / len(by_name["queries.polygonal_mean"])
            if by_name.get("queries.polygonal_mean") else 0.0
        ),
        "queries.series_p50_ms": statistics.median(durs("queries.time_series"))
        if by_name.get("queries.time_series") else 0.0,
        "catalog.read_ms": mean("catalog.read"),
        "catalog.rg_per_tile": (
            counts.get("catalog.row_groups", 0) / counts["catalog.tiles_from_parquet"]
            if counts.get("catalog.tiles_from_parquet") else 0.0
        ),
        "kernels.decode_ms": mean("kernels.decode"),
        "kernels.decodes_per_req": len(by_name.get("kernels.decode", [])) / n_req if n_req else 0.0,
        "kernels.render_ms": mean("kernels.render"),
        "png.encode_ms": mean("png.encode"),
        "geom.mask_ms": mean("geom.grid_mask"),
        "geom.inside_frac": (
            counts.get("geom.pixels_inside", 0) / counts["geom.pixels_tested"]
            if counts.get("geom.pixels_tested") else 0.0
        ),
    }
    # /mean latency per ladder rung, from the polygonal_mean spans
    rung = {}
    for i, *_ in records:
        method, path, body = requests[i % len(requests)]
        if path.startswith("/mean/"):
            rung[f"{tag}{i}"] = inputs.polygon_tiles(body)
    per_rung: dict = {}
    for rid, _, _, s, e in by_name.get("queries.polygonal_mean", []):
        if rid in rung:
            per_rung.setdefault(rung[rid], []).append((e - s) * 1000.0)
    for n in inputs.LADDER:
        v = per_rung.get(n)
        out[f"queries.mean_p50_ms.t{n}"] = statistics.median(v) if v else 0.0
    return out


def _tail(lat: list) -> tuple:
    pct, value = stats.tail(lat)
    if pct is None:
        return None, f"no tail: {len(lat)} request latencies"
    return value, f"p{pct} of {len(lat)} request latencies"


def _check(svc, passes, log) -> int:
    """Failed responses among ``passes``, a list of (request list, records
    whose index points into it), against a single-threaded in-process
    LayerService."""
    want, bad = {}, 0
    for reqs, records in passes:
        for i, _, _, status, payload, err in records:
            req = reqs[i % len(reqs)]
            if req not in want:
                want[req] = reference(svc, *req)
            if status != 200 or err or not same(payload, want[req]):
                bad += 1
                if bad <= 5:
                    log(f"bad answer: {req[1][:100]} status={status} err={err}")
    return bad


def run_serve(workload, work, seed, seconds, trace, nproc, env, log) -> dict:
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    meta = ensure_catalog(work, nproc, log)
    analytics = [(m, p.replace("{layer}", LAYER), b) for m, p, b in inputs.analytics_requests(seed)]
    if workload == "serve_tiles":
        raw, clients, whole = inputs.tile_requests(meta["stored"], inputs.TIMES, seed), nproc, False
        requests = [(m, p.replace("{layer}", LAYER), b) for m, p, b in raw]
    else:
        requests, clients, whole = analytics, ANALYTICS_CLIENTS, True
    phase = run_phase(meta, requests, clients, seconds, env, whole, SETUPS)
    passes = [(phase["distinct"], w) for w in phase["warm"]] + [(requests, phase["timed"])]
    lat = [(e - s) * 1000.0 for _, s, e, *_ in phase["timed"]]
    result = dict(
        attempted=sum(len(w) for w in phase["warm"]) + len(lat),
        setup_s=phase["setup_s"],
        op_ms=lat,
        tail=_tail(lat),
        throughput=len(lat) / phase["wall"],
        peak_rss_mb=phase["rss"],
        layer={},
    )
    if trace:
        # serve_tiles never reaches the polygon mask: its traced server also
        # answers ANALYTICS_CYCLES cycles of serve_analytics requests, after
        # the timed window, for the /mean, /series and geom layers
        extra = analytics * ANALYTICS_CYCLES if workload == "serve_tiles" else []
        tfile = os.path.join(work, f"trace-{os.getpid()}.json")
        traced = run_phase(meta, requests, clients, seconds, env, whole, trace_out=tfile,
                           extra=extra)
        os.remove(tfile)
        layer = _layer_metrics(traced["spans"], traced["timed"], requests)
        if extra:
            an = _layer_metrics(traced["spans"], traced["extra"], extra, EXTRA_TAG)
            layer.update({k: v for k, v in an.items() if k.startswith(ANALYTICS_LAYERS)})
        layer["trace_overhead"] = (len(traced["timed"]) / traced["wall"]) / result["throughput"] - 1.0
        result["layer"] = layer
        passes += [(traced["distinct"], w) for w in traced["warm"]]
        passes += [(requests, traced["timed"]), (extra, traced["extra"])]
        result["attempted"] += sum(len(r) for _, r in passes[-3:])

    # answer check, outside the timed window: every response of the run
    result["failed"] = _check(LayerService(Catalog(meta["catalog"])), passes, log)
    return result


if __name__ == "__main__":
    # the serve catalog build, as ensure_catalog starts it
    _build(sys.argv[1], sys.argv[2], int(sys.argv[3]))
