"""Seeded inputs for every workload.

A seed moves positions and changes values; it never changes the amount of
work.  Every generator here returns the same number of scenes, requests,
polygon tile counts and table rows for every seed.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from geotrellis_landsat_emr_demo_spark import NBANDS, fixtures
from geotrellis_landsat_emr_demo_spark.core import cellindex, geom, kernels, tiling

ZOOM = 13
TIMES = fixtures.TS_ISO[:2]  # two acquisition dates -> /diff and two-date /mean
# z13 origin of the layouts: the fixture centre rounded down to a multiple of
# 16 tiles, so a translation by whole 16-tile blocks keeps z13..z9 alignment
ORIGIN_COL, ORIGIN_ROW = (int(v) // 16 * 16 for v in tiling.map_to_tile(*fixtures.center_mercator(), ZOOM))

# serve catalog: 4 x 4 scenes per date on a 5-tile stride, each 5.5 tiles
# wide (half-tile overlaps exercise the merge), about 21 x 21 z13 tiles
SERVE_GRID, SERVE_STRIDE, SERVE_SCENE_TILES, SERVE_PX = 4, 5, 5.5, 704
SERVE_EXTENT = SERVE_GRID * SERVE_STRIDE  # z13 tiles fully covered per side
LADDER = (1, 4, 16, 64, 128)  # z13 tiles under each /mean polygon
TWO_DATE = (1, 4, 16)  # rungs also asked as a two-date difference
SERIES_POINTS = 2


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# ------------------------------------------------------------------ scenes


def _scene_row(image_id, i, ts_iso, xmin, ymin, size_m, px):
    spec = dict(
        image_id=image_id, i=i, w=px, h=px, fmt="npy-u16-z",
        xmin=float(xmin), ymin=float(ymin),
        xmax=float(xmin + size_m), ymax=float(ymin + size_m),
    )
    payload = kernels.encode_payload(fixtures.scene_array(spec), spec["fmt"])
    millis = int(pd.Timestamp(ts_iso).timestamp() * 1000)
    return dict(
        image_id=image_id,
        bytes=payload,
        w=px,
        h=px,
        fmt=spec["fmt"],
        caption=f"{image_id} at {ts_iso}",
        phash=int.from_bytes(hashlib.sha256(payload).digest()[:8], "big", signed=True),
        ts=datetime.fromtimestamp(millis / 1000, tz=timezone.utc).replace(tzinfo=None),
        ts_millis=millis,
        xmin=spec["xmin"],
        ymin=spec["ymin"],
        xmax=spec["xmax"],
        ymax=spec["ymax"],
        crs="EPSG:3857",
        nbands=NBANDS,
        cloud_cover=0.0,
    )


def _tile_corner(col, row):
    """Mercator (xmin, ymax) of a z13 tile."""
    xmin, _, _, ymax = tiling.tile_extent(col, row, ZOOM)
    return float(xmin), float(ymax)


def serve_scenes() -> pd.DataFrame:
    """The serve catalog's corpus: fixed, since the catalog is built once
    per checkout.  Seeds pick the requests made against it."""
    span = tiling.tile_span(ZOOM)
    size = SERVE_SCENE_TILES * span
    rows = []
    for t, ts_iso in enumerate(TIMES):
        for gy in range(SERVE_GRID):
            for gx in range(SERVE_GRID):
                xmin, ymax = _tile_corner(
                    ORIGIN_COL + gx * SERVE_STRIDE, ORIGIN_ROW + gy * SERVE_STRIDE
                )
                k = (t * SERVE_GRID + gy) * SERVE_GRID + gx
                rows.append(
                    _scene_row(f"serve-{k:03d}", k, ts_iso, xmin, ymax - size, size, SERVE_PX)
                )
    return pd.DataFrame(rows)


# ingest corpus: a ring of scenes around a hot centre tile, per date
INGEST_RING, INGEST_SCENE_TILES, INGEST_PX = 6, 3.0, 384


def ingest_scenes(seed: int) -> pd.DataFrame:
    """Seeded ingest corpus: the same footprint template (every scene
    overlaps the centre tile) translated by a seeded whole number of
    16-tile blocks, with seeded pixel phases.  Tile counts at every zoom
    are the same for every seed."""
    rng = _rng(seed, "ingest")
    bx, by = (int(v) for v in rng.integers(-8, 9, size=2))
    phase = int(rng.integers(0, 1 << 20))
    span = tiling.tile_span(ZOOM)
    size = INGEST_SCENE_TILES * span
    cx, cy = _tile_corner(ORIGIN_COL + 8 + 16 * bx, ORIGIN_ROW + 8 + 16 * by)
    cx, cy = cx + span / 2, cy - span / 2  # centre of the hot tile
    rows = []
    for t, ts_iso in enumerate(TIMES):
        for k in range(INGEST_RING):
            ang = 2 * np.pi * k / INGEST_RING
            # offsets stay under half a scene, so every scene covers the centre
            ox, oy = 0.3 * size * np.cos(ang), 0.3 * size * np.sin(ang)
            rows.append(
                _scene_row(
                    f"ingest-{t}-{k:02d}", phase + t * INGEST_RING + k, ts_iso,
                    cx + ox - size / 2, cy + oy - size / 2, size, INGEST_PX,
                )
            )
    return pd.DataFrame(rows)


# ---------------------------------------------------------- serve requests


def zipf_weights(n: int) -> np.ndarray:
    """Zipf(1.0): P(rank r) proportional to 1/(r+1) over ``n`` ranks."""
    w = 1.0 / np.arange(1, n + 1, dtype="f8")
    return w / w.sum()


def _apportion(weights, total: int) -> list[int]:
    """Split ``total`` in proportion to ``weights`` (largest remainder)."""
    q = np.asarray(weights, dtype="f8")
    q = q / q.sum() * total
    out = np.floor(q).astype(int)
    out[np.argsort(-(q - out), kind="stable")[: total - out.sum()]] += 1
    return out.tolist()


def tile_requests(stored: list, times: list, seed: int, distinct: int = 320, n: int = 1200) -> list:
    """Request list for serve_tiles: ``n`` requests, ``distinct`` of them
    distinct.

    ``stored`` lists every stored (zoom, x, y, ts_iso).  The request space
    is every stored tile in each of its three renders (RGB, NDVI, NDWI),
    one z+1 overzoom child of every max-zoom tile likewise, and an NDVI and
    an NDWI /diff per (zoom, x, y) stored at both dates.

    The template is the same for every seed: how many distinct requests
    fall on each (kind, zoom, operation), in proportion to the space; their
    popularity ranks; the Zipf(1.0) number of repeats per rank; and the
    order of the list.  The seed fills each distinct slot with a key of its
    kind and zoom, no two slots sharing a source tile, so every seed does
    the same work and sees the same tile-cache hits and misses."""
    have = set(stored)
    strata: dict = {}  # (kind, zoom) -> candidate keys
    for z, x, y, t in stored:
        strata.setdefault(("tile", z), []).append((z, x, y, t))
        if z == ZOOM:
            strata.setdefault(("over", z + 1), []).append((z, x, y, t))
    for z, x, y in sorted({k[:3] for k in stored}):
        if all((z, x, y, t) in have for t in times):
            strata.setdefault(("diff", z), []).append((z, x, y, None))
    cells = [
        (kind, z, op)
        for kind, z in sorted(strata)
        for op in (("ndvi", "ndwi") if kind == "diff" else ("", "ndvi", "ndwi"))
    ]
    fixed = np.random.default_rng(0)  # the seed-independent template
    counts = _apportion([len(strata[c[:2]]) for c in cells], distinct)
    slots = [c for c, k in zip(cells, counts) for _ in range(k)]
    slots = [slots[i] for i in fixed.permutation(distinct)]  # position = popularity rank
    repeats = 1 + np.asarray(_apportion(zipf_weights(distinct), n - distinct))
    order = fixed.permutation(np.repeat(np.arange(distinct), repeats))

    rng = _rng(seed, "tiles")
    pools = {k: [v[i] for i in rng.permutation(len(v))] for k, v in strata.items()}
    used, paths = set(), []
    for kind, z, op in slots:
        while True:
            zz, x, y, t = pools[(kind, z)].pop()
            src = {(zz, x, y, tt) for tt in times} if kind == "diff" else {(zz, x, y, t)}
            if not src & used:
                break
        used |= src
        if kind == "diff":
            paths.append(f"/diff/{{layer}}/{z}/{x}/{y}?time1={times[0]}&time2={times[1]}&operation={op}")
            continue
        if kind == "over":
            x, y = 2 * x + int(rng.integers(2)), 2 * y + int(rng.integers(2))
        paths.append(f"/tiles/{{layer}}/{z}/{x}/{y}?time={t}" + (f"&operation={op}" if op else ""))
    return [("GET", paths[i], None) for i in order]


def _polygon(col, row, w, h, rng):
    """A seeded 12-gon inscribed in the w x h block of z13 tiles at
    (col, row), inset so its envelope covers exactly w * h tiles."""
    span = tiling.tile_span(ZOOM)
    xmin, ymax = _tile_corner(col, row)
    inset = 0.02 * span
    cx, cy = xmin + w * span / 2, ymax - h * span / 2
    rx, ry = w * span / 2 - inset, h * span / 2 - inset
    axes = np.array([0.0, 0.5, 1.0, 1.5]) * np.pi  # vertices on all four sides
    ang = np.concatenate([axes, rng.uniform(0, 2 * np.pi, 8)])
    rad = np.concatenate([np.ones(4), rng.uniform(0.75, 1.0, 8)])
    order = np.argsort(ang)  # star-shaped around the centre -> simple
    ang, rad = ang[order], rad[order]
    mx, my = cx + rx * rad * np.cos(ang), cy + ry * rad * np.sin(ang)
    lng, lat = geom.mercator_to_lnglat(mx, my)
    ring = [[float(a), float(b)] for a, b in zip(lng, lat)]
    return {"type": "Polygon", "coordinates": [ring + ring[:1]]}


def analytics_requests(seed: int) -> list:
    """One cycle of serve_analytics requests, in seeded order: per ladder
    rung one seeded polygon, asked single-date (and two-date on the
    TWO_DATE rungs), plus /series at seeded points.  Every cycle reads the
    same number of tiles."""
    rng = _rng(seed, "analytics")
    out = []
    for n in LADDER:
        w = 1 << (int(np.log2(n)) + 1) // 2
        h = n // w
        if rng.integers(2):
            w, h = h, w
        col = ORIGIN_COL + int(rng.integers(0, SERVE_EXTENT - w + 1))
        row = ORIGIN_ROW + int(rng.integers(0, SERVE_EXTENT - h + 1))
        body = json.dumps(_polygon(col, row, w, h, rng))
        t = int(rng.integers(2))
        op = ("ndvi", "ndwi")[int(rng.integers(2))]
        out.append(("POST", f"/mean/{{layer}}/{op}?time={TIMES[t]}", body))
        if n in TWO_DATE:
            out.append(
                ("POST", f"/mean/{{layer}}/{op}?time={TIMES[t]}&otherTime={TIMES[1 - t]}", body)
            )
    xmin, ymax = _tile_corner(ORIGIN_COL, ORIGIN_ROW)
    span = tiling.tile_span(ZOOM)
    for _ in range(SERIES_POINTS):
        dx, dy = rng.uniform(0, SERVE_EXTENT, 2)
        lng, lat = geom.mercator_to_lnglat(xmin + dx * span, ymax - dy * span)
        op = ("ndvi", "ndwi")[int(rng.integers(2))]
        out.append(("GET", f"/series/{{layer}}/{op}?lat={float(lat)!r}&lng={float(lng)!r}", None))
    return [out[i] for i in rng.permutation(len(out))]


def polygon_tiles(body: str) -> int:
    """z13 tiles the server's key cover enumerates for a /mean body."""
    mp = geom.reproject_multipolygon(geom.parse_geojson(body), forward=True)
    return len(cellindex.cover_extent(ZOOM, *geom.envelope(mp)))


# ------------------------------------------------------------ query tables

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def query_tables(seed: int, sf: float) -> dict:
    """The ten tables ``__spark_entry__`` reads, at scale factor ``sf`` (row
    counts as TESTDATA.md's sf tiers: lineitem 6M x sf, documents and
    embeddings at least 500 rows), with seeded values."""
    rng = _rng(seed, f"tables:{sf}")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[rng.choice(len(options), size=n, p=p)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span, n), unit="D")

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="i4"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="i4"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("i4"),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="i8"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("i4"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="i8"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("i4"),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="i8"),
        "p_name": pick([f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("i4"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="i8"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("i8"),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("i8"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("i8"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("i8"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("i4"),
        "l_quantity": rng.integers(1, 51, n_line).astype("f8"),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", 2499, n_line),
    })
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="i8"),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)), unit="us"),
        "user_id": rng.integers(0, n_users, n_ev).astype("i8"),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_doc)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    # a few exact duplicates, as the sf0.1 tier's corpus has (8 per 5000 docs)
    for dst, src in rng.integers(0, n_doc, size=(n_doc // 625, 2)):
        text[dst] = text[src]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="i8"),
        "text": text,
        "lang": pick(["en", "de", "es", "fr", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(s) for s in text], dtype="i8"),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype("f4")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="i8"),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype("i4"),
    })
    return t


def write_tables(tables: dict, out_dir: str) -> None:
    """One single-row-group parquet file per table, as the sf tiers are stored."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in tables.items():
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            tbl = tbl.set_column(
                tbl.schema.get_field_index("embedding"), "embedding",
                pa.array(pdf["embedding"].tolist(), type=pa.list_(pa.float32())),
            )
        pq.write_table(tbl, f"{out_dir}/{name}.parquet", row_group_size=len(pdf) or 1,
                       coerce_timestamps="us")
