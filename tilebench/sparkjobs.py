"""Spark workloads: the 27 headline leaves and the ingest job.

Both run Spark work one job at a time in one local session, after an
untimed warm pass.  Per-layer Spark numbers come from an event log that the
traced pass alone writes, with each job tagged by a description.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import procs
import stats

JOB_TAG = "tilebench:"


def session(run_dir: str, nproc: int):
    from geotrellis_landsat_emr_demo_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return build_session(
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            # a heap committed and touched at start: the JVM's resident size
            # then does not depend on how much the run happened to allocate
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    spark.stop()
    pids = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(procs.alive(pid) for pid in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def drop_caches(spark) -> None:
    """Free persisted blocks between leaves, as bench.py does."""
    import gc

    gc.collect()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    spark.catalog.clearCache()


# ------------------------------------------------------------- process tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Samples the summed RSS of this process's children and their
    descendants (the Spark JVM and its Python workers) every ``period``
    seconds; ``peak_mb`` is the largest sum seen.

    A process counts only from its second sample on.  A helper the JVM
    spawns shares the JVM's memory until it execs, so one sample caught in
    that moment would count the JVM twice (ingest read 10.2 GB instead of
    5.9 GB in four of five runs)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        seen: set = set()
        while not self._stop.wait(self.period):
            now = set(procs.descendants(os.getpid()))
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(pid) for pid in now & seen))
            seen = now

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- event log


class EventLog:
    """An event logger attached to a live session for one traced window."""

    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        sc = spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        self.log_dir = log_dir
        self._jsc = jsc
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.rolling.enabled", "false")
        conf.set("spark.eventLog.compress", "false")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{sc.applicationId}-traced",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{log_dir}"),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def close(self) -> list[dict]:
        """Detach, flush and return the logged events."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        events = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, "*"))):
            with open(path) as f:
                events += [json.loads(line) for line in f if line.strip()]
        return events


def spark_layer_metrics(events: list[dict], wall_s: float, nproc: int) -> dict:
    """Task time, GC, shuffle, slot utilisation and task skew of the jobs
    the benchmark tagged."""
    tagged_stages = set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(JOB_TAG):
                tagged_stages.update(ev.get("Stage IDs", []))
    run_ms = gc_ms = shuffle_b = busy_ms = 0
    per_stage: dict = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in tagged_stages:
            continue
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        dur = info["Finish Time"] - info["Launch Time"]
        busy_ms += dur
        run_ms += tm.get("Executor Run Time", 0)
        gc_ms += tm.get("JVM GC Time", 0)
        shuffle_b += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        per_stage.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), []).append(dur)
    skews = [
        max(d) / statistics.median(d)
        for d in per_stage.values()
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    return {
        "spark.task_s": run_ms / 1000.0,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.shuffle_mb": shuffle_b / 1e6,
        "spark.slot_util": busy_ms / 1000.0 / (wall_s * nproc),
        "spark.skew": statistics.median(skews) if skews else 1.0,
    }


# ----------------------------------------------------------- spark_queries


def _oracle_check(frames: dict, check_dir: str, canon) -> dict:
    """Order-insensitive value equality of every leaf against its DuckDB
    oracle on the same tables; returns {leaf: problem} for mismatches."""
    import duckdb

    import __spark_entry__ as entry
    from inputs import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{check_dir}/{t}.parquet')")
    oracles = entry.oracle_sql()
    bad = {}
    for name, got in frames.items():
        if isinstance(got, Exception):
            bad[name] = f"spark error: {got}"
            continue
        try:
            a, b = canon(got), canon(con.sql(oracles[name]).df())
        except Exception as e:  # an oracle error fails the leaf, the run goes on
            bad[name] = f"oracle error: {e}"
            continue
        if list(a.columns) != list(b.columns):
            bad[name] = f"columns {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            bad[name] = f"rows {len(a)} vs {len(b)}"
        elif not a.equals(b):
            bad[name] = f"{int((a != b).sum().sum())} mismatched cells"
    con.close()
    return bad


def run_spark_queries(run_dir, seed, seconds, trace, nproc, log, canon) -> dict:
    import inputs
    from bench import HEADLINE, materialize

    import __spark_entry__ as entry

    t0 = time.perf_counter()
    with TreeRss() as rss:
        big, small = os.path.join(run_dir, "sf0.1"), os.path.join(run_dir, "check")
        inputs.write_tables(inputs.query_tables(seed, 0.1), big)
        # the answer check runs at the sf0.01 shape tools/check_entry.py gates on:
        # at sf0.1 the DuckDB twins of the pair/graph leaves take minutes
        inputs.write_tables(inputs.query_tables(seed, 0.01), small)
        spark = session(run_dir, nproc)
        try:
            log(f"session up at {time.perf_counter() - t0:.1f} s")
            sc = spark.sparkContext
            qs = entry.queries()

            def one_pass(tag: bool):
                per, failed = {}, 0
                p0 = time.perf_counter()
                for name in HEADLINE:
                    if tag:
                        sc.setJobDescription(JOB_TAG + name)
                    t = time.perf_counter()
                    try:
                        materialize(qs[name](spark, big))
                    except Exception as e:
                        log(f"leaf {name} failed: {e}")
                        failed += 1
                    per[name] = time.perf_counter() - t
                    drop_caches(spark)
                sc.setJobDescription(None)
                return time.perf_counter() - p0, per, failed

            # warm pass, untimed: every leaf once over the sf0.1 tables as the
            # timed pass runs it, and once collected on the sf0.01 tables for
            # the answer check.  It compiles the plans, reads the files and
            # builds the pair table ngram_jaccard and dedup_components share
            # (__spark_entry__ memoises it per session, as bench.py's warm
            # reps reuse it; a traced run times that build on its own).  It
            # runs nproc jobs at a time: job launch and compilation dominate
            # a cold pass, and one at a time it took twice a timed pass.
            def warm(job):
                tables, name = job
                try:
                    if tables == big:
                        return materialize(qs[name](spark, big))
                    return qs[name](spark, small).toPandas()
                except Exception as e:  # counted as a failed leaf
                    return e

            jobs = [(t, n) for t in (big, small) for n in HEADLINE]
            with ThreadPoolExecutor(nproc) as pool:
                done = dict(zip(jobs, pool.map(warm, jobs)))
            drop_caches(spark)
            frames = {n: done[(small, n)] for n in HEADLINE}
            failed = 0
            for name in HEADLINE:
                if isinstance(done[(big, name)], Exception):
                    log(f"leaf {name} failed in the warm pass: {done[(big, name)]}")
                    failed += 1
            setup_s = time.perf_counter() - t0
            log(f"warm pass done at {setup_s:.1f} s")
            passes = []
            w0 = time.perf_counter()
            while not passes or time.perf_counter() - w0 < seconds:
                wall, per, f = one_pass(tag=False)
                passes.append((wall, per))
                failed += f
                log("pass ms: " + json.dumps({n: round(v * 1000.0, 1) for n, v in per.items()}))
            layer, roots = {}, []
            if trace:
                evlog = EventLog(spark, os.path.join(run_dir, "eventlog"))
                t_wall, t_per, f = one_pass(tag=True)
                failed += f
                layer = spark_layer_metrics(evlog.close(), t_wall, nproc)
                layer.update({f"leaf.{n}_ms": v * 1000.0 for n, v in t_per.items()})
                layer["trace_overhead"] = statistics.median(w for w, _ in passes) / t_wall - 1.0
                entry._PAIRS_MEMO.clear()
                t = time.perf_counter()
                materialize(qs["ngram_jaccard"](spark, big))
                layer["textops.pairs_build_ms"] = (time.perf_counter() - t) * 1000.0
                drop_caches(spark)
                # the ingest workload is not one BENCHMARK.json lists: its
                # write-path layers come from here, a warm job then a traced one
                source = ingest_source(run_dir, seed)
                roots = [os.path.join(run_dir, f"catalog-{k}") for k in range(2)]
                ingest_job(spark, source, roots[0])
                layer.update(traced_ingest_job(spark, source, roots[1])[1])
        finally:
            stop(spark)
    bad = _oracle_check(frames, small, canon)
    log(f"answers checked at {time.perf_counter() - t0:.1f} s")
    for name, why in bad.items():
        log(f"answer check: {name}: {why}")
    failed += ingest_check(roots, log)
    # per leaf, its median over the timed passes; the tail is the mean of
    # the slowest quarter of these
    leaf_ms = [1000.0 * statistics.median(per[n] for _, per in passes) for n in HEADLINE]
    n_leaves = len(HEADLINE) * len(passes)
    return dict(
        attempted=len(HEADLINE) * (len(passes) + 2 + trace) + len(roots),
        failed=failed + len(bad),
        setup_s=setup_s,
        op_ms=[w * 1000.0 for w, _ in passes],
        tail=(stats.slowest_quarter_mean(leaf_ms),
              f"mean of the slowest {len(leaf_ms) // 4} of {len(leaf_ms)} leaves"),
        throughput=n_leaves / sum(w for w, _ in passes),
        peak_rss_mb=rss.peak_mb,
        layer=layer,
    )


# ------------------------------------------------------------------ ingest


def _z13_digest(root: str) -> tuple[int, str]:
    """(tiles in the catalog, digest of every z13 tile's key and payload)."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog

    cat = Catalog(root)
    pdf = cat.read_pandas("tiles", columns=["zoom", "x", "y", "ts", "tile"])
    z13 = pdf[pdf.zoom == 13].sort_values(["x", "y", "ts"])
    h = hashlib.sha256()
    for row in z13.itertuples(index=False):
        h.update(f"{row.x},{row.y},{row.ts}".encode())
        h.update(row.tile)
    return len(pdf), h.hexdigest()


def ingest_job(spark, source, root: str) -> tuple[float, dict]:
    """One ingest of the ``source`` catalog's images from z13 down to z9
    into a fresh catalog at ``root``: (wall seconds, stage metrics)."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import ingest

    t = time.perf_counter()
    m = ingest.ingest_images(
        spark, Catalog(root), "ingest", images_df=source.read_spark(spark, "images"),
        max_zoom=13, min_zoom=9,
    )
    return time.perf_counter() - t, m


def job_tiles(m: dict) -> int:
    return sum(v.get("rows", 0) for v in m.values())


def traced_ingest_job(spark, source, root: str) -> tuple[float, dict]:
    """One ingest job with spans around the catalog's write and commit:
    (wall seconds, the catalog.* and ingest.* per-layer metrics)."""
    import tracing

    from geotrellis_landsat_emr_demo_spark.catalog import Catalog

    tracer = tracing.Tracer()
    saved = {a: getattr(Catalog, a) for a in ("stage_spark_write", "commit")}
    tracer.wrap(Catalog, "stage_spark_write", "catalog.write")
    tracer.wrap(Catalog, "commit", "catalog.commit")
    try:
        wall, m = ingest_job(spark, source, root)
    finally:
        for a, fn in saved.items():
            setattr(Catalog, a, fn)
    writes = [e - s for n, _, _, _, s, e in tracer.spans if n == "catalog.write"]
    commits = [e - s for n, _, _, _, s, e in tracer.spans if n == "catalog.commit"]
    pyramid = [f"ingest:ingest:z{z}" for z in range(9, 13)]
    return wall, {
        "catalog.write_s": sum(writes),
        "catalog.commit_ms": 1000.0 * statistics.mean(commits),
        "catalog.mb_per_tile": sum(v.get("bytes", 0) for v in m.values()) / 1e6 / job_tiles(m),
        "ingest.z13_s": m["ingest:ingest:z13"]["wall_s"],
        "ingest.pyramid_s": sum(m[s]["wall_s"] for s in pyramid),
        "ingest.attrs_s": m["ingest:ingest:attrs"]["wall_s"],
        "ingest.tiles_per_s": job_tiles(m) / wall,
    }


def ingest_source(run_dir: str, seed: int):
    """The seeded ingest corpus, as an ``images`` table in its own catalog."""
    import inputs

    from geotrellis_landsat_emr_demo_spark.catalog import Catalog

    source = Catalog(os.path.join(run_dir, "source"))
    source.append_pandas(inputs.ingest_scenes(seed), "images")
    return source


def ingest_check(roots: list, log) -> int:
    """Failed jobs: every job of a run must write the same tiles."""
    digests = {_z13_digest(root) for root in roots}
    if len(digests) <= 1:
        return 0
    log(f"ingest check: jobs disagree: {sorted(digests)}")
    return len(roots)


def run_ingest(run_dir, seed, seconds, trace, nproc, log) -> dict:
    t0 = time.perf_counter()
    with TreeRss() as rss:
        source = ingest_source(run_dir, seed)
        spark = session(run_dir, nproc)
        try:
            sc = spark.sparkContext
            roots = []

            def job(traced=False):
                roots.append(os.path.join(run_dir, f"catalog-{len(roots)}"))
                return (traced_ingest_job if traced else ingest_job)(spark, source, roots[-1])

            job()  # warm job
            setup_s = time.perf_counter() - t0
            log(f"warm job done at {setup_s:.1f} s")
            walls, tiles = [], 0
            w0 = time.perf_counter()
            while not walls or time.perf_counter() - w0 < seconds:
                wall, m = job()
                walls.append(wall)
                tiles += job_tiles(m)
            layer = {}
            if trace:
                sc.setJobDescription(f"{JOB_TAG}ingest")
                evlog = EventLog(spark, os.path.join(run_dir, "eventlog"))
                t_wall, ingest_layer = job(traced=True)
                sc.setJobDescription(None)
                layer = spark_layer_metrics(evlog.close(), t_wall, nproc)
                layer.update(ingest_layer)
                layer["trace_overhead"] = statistics.median(walls) / t_wall - 1.0
        finally:
            stop(spark)
    failed = ingest_check(roots, log)
    return dict(
        attempted=len(roots),
        failed=failed,
        setup_s=setup_s,
        op_ms=[w * 1000.0 for w in walls],
        tail=(1000.0 * stats.slowest_quarter_mean(walls),
              f"mean of the slowest {max(1, len(walls) // 4)} of {len(walls)} timed ingest jobs"),
        throughput=tiles / sum(walls),
        peak_rss_mb=rss.peak_mb,
        layer=layer,
    )
