"""Tests for the benchmark's own helpers.

    python3 -m pytest tilebench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import inputs  # noqa: E402
import stats  # noqa: E402

# ------------------------------------------------------------ tail rule


def test_no_tail_below_eleven_samples():
    for n in range(0, 11):
        assert stats.tail_percentile(n) is None
        assert stats.tail(list(range(n))) == (None, None)


def test_tail_leaves_at_least_ten_samples_beyond():
    for n in (11, 12, 20, 37, 100, 999, 1000, 1001, 5000):
        pct = stats.tail_percentile(n)
        xs = list(range(n))
        value = stats.percentile(xs, pct)
        assert sum(x > value for x in xs) >= 10, n
        assert pct <= 99.0


def test_tail_capped_at_p99_and_reaches_it_at_1000():
    assert stats.tail_percentile(999) < 99.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10**6) == 99.0


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.random(57))
    for pct in (0, 9.5, 50, 62.9, 99, 100):
        assert stats.percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))


def test_slowest_quarter_mean():
    assert stats.slowest_quarter_mean([3.0]) == 3.0
    assert stats.slowest_quarter_mean([1.0, 5.0, 2.0]) == 5.0  # fewer than 8: the slowest
    assert stats.slowest_quarter_mean(list(range(1, 28))) == pytest.approx(sum(range(22, 28)) / 6)
    with pytest.raises(ValueError):
        stats.slowest_quarter_mean([])


# ------------------------------------------------------- span self time


def test_self_time_subtracts_children():
    spans = [(1, None, 0.0, 10.0), (2, 1, 1.0, 3.0), (3, 1, 5.0, 6.0), (4, 2, 1.5, 2.5)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(7.0)  # 10 - (2 + 1)
    assert st[2] == pytest.approx(1.0)  # 2 - 1; the grandchild is not the root's
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_clips():
    # children from threads may overlap; a child may outlive its parent
    spans = [(1, None, 0.0, 10.0), (2, 1, 2.0, 6.0), (3, 1, 4.0, 8.0), (4, 1, 9.0, 12.0)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_of_leaf_is_duration():
    assert stats.self_times([(7, None, 2.0, 2.5)]) == {7: pytest.approx(0.5)}


# ------------------------------------------------- seeded inputs


def _stored():
    """A small stored-key list: a 6 x 6 z13 block at two dates plus parents."""
    keys = []
    for t in inputs.TIMES:
        for z, n in ((13, 6), (12, 3), (11, 2)):
            keys += [(z, x, y, t) for x in range(n) for y in range(n)]
    return keys


def _shape(path: str) -> tuple:
    """(route, zoom, operation) of a request path: what it costs, not where."""
    route, _, z = path.split("/")[1:4]
    return route, int(z), path.rsplit("operation=", 1)[-1] if "operation=" in path else ""


def test_tile_requests_deterministic_and_equal_work():
    a = inputs.tile_requests(_stored(), inputs.TIMES, 5, distinct=40, n=300)
    assert a == inputs.tile_requests(_stored(), inputs.TIMES, 5, distinct=40, n=300)
    b = inputs.tile_requests(_stored(), inputs.TIMES, 6, distinct=40, n=300)
    assert a != b
    for reqs in (a, b):
        assert len(reqs) == 300 and len(set(reqs)) == 40
    # the same kinds, zooms, operations, repeats and order for every seed
    assert [_shape(p) for _, p, _ in a] == [_shape(p) for _, p, _ in b]
    first = {}
    pattern = [first.setdefault(p, len(first)) for _, p, _ in a]
    first = {}
    assert pattern == [first.setdefault(p, len(first)) for _, p, _ in b]


def test_zipf_weights_decrease():
    w = inputs.zipf_weights(100)
    assert w.sum() == pytest.approx(1.0)
    assert np.all(np.diff(w) < 0)


def test_polygon_ladder_deterministic_with_fixed_tile_counts():
    a, b = inputs.analytics_requests(3), inputs.analytics_requests(4)
    assert a == inputs.analytics_requests(3)
    assert a != b

    def rungs(reqs):
        return sorted(inputs.polygon_tiles(body) for m, p, body in reqs if m == "POST")

    want = sorted(list(inputs.LADDER) + list(inputs.TWO_DATE))
    assert rungs(a) == rungs(b) == want
    assert len(a) == len(b)
    for m, p, body in a:
        if body:
            ring = json.loads(body)["coordinates"][0]
            assert ring[0] == ring[-1]


def test_tables_deterministic_with_equal_row_counts():
    a, b = inputs.query_tables(1, 0.001), inputs.query_tables(2, 0.001)
    a2 = inputs.query_tables(1, 0.001)
    assert set(a) == set(inputs.TABLES)
    for name in inputs.TABLES:
        pa = a[name].drop(columns=["embedding"], errors="ignore")
        assert pa.equals(a2[name].drop(columns=["embedding"], errors="ignore"))
        assert len(a[name]) == len(b[name])
        assert list(a[name].columns) == list(b[name].columns)
    assert not a["lineitem"].equals(b["lineitem"])
    assert np.array_equal(np.stack(a["embeddings"].embedding), np.stack(a2["embeddings"].embedding))


def test_ingest_scenes_move_but_cover_the_same_tiles():
    from geotrellis_landsat_emr_demo_spark.core import tiling

    def cover(pdf):
        out = {}
        for r in pdf.itertuples(index=False):
            c0, r0, c1, r1 = tiling.extent_to_tile_range(r.xmin, r.ymin, r.xmax, r.ymax, 13)
            out[r.image_id] = (c1 - c0, r1 - r0)
        return out

    a, b = inputs.ingest_scenes(1), inputs.ingest_scenes(2)
    assert a.drop(columns=["ts"]).equals(inputs.ingest_scenes(1).drop(columns=["ts"]))
    assert len(a) == len(b)
    assert cover(a) == cover(b)
    assert not a["xmin"].equals(b["xmin"])
    assert list(a["bytes"]) != list(b["bytes"])


# ------------------------------------------------------------ process tree


def test_end_all_ends_orphaned_grandchildren(tmp_path):
    """A process whose parent exits is still found, ended and reaped."""
    import subprocess

    script = (
        "import os, subprocess, sys, time; sys.path.insert(0, sys.argv[1]); import procs\n"
        "procs.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=open(sys.argv[2], 'w'))\n"
        "time.sleep(0.2)\n"
        "print(procs.end_all(grace=5.0), procs.descendants(os.getpid()))\n"
    )
    pidfile = tmp_path / "orphan.pid"
    out = subprocess.run([sys.executable, "-c", script, os.path.dirname(HERE), str(pidfile)],
                         capture_output=True, text=True, check=True).stdout
    orphan = int(pidfile.read_text())
    assert out.strip() == f"[{orphan}] []"
    assert not os.path.exists(f"/proc/{orphan}")
