"""In-memory spans recorded around calls into the engine's modules.

The benchmark's server entry installs these wrappers on module and class
attributes before it starts serving; the engine itself is not changed.
Spans are kept in memory and written out once, when the server stops.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self):
        self.spans = []  # (name, request_id, span_id, parent_id, start, end)
        self.counts: dict = {}  # request_id -> {name: count}
        self._local = threading.local()
        self._ids = itertools.count(1)

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request_id(self):
        return getattr(self._local, "rid", None)

    def begin_request(self, rid):
        self._local.rid = rid

    def count(self, name: str, n: int = 1) -> None:
        """Add ``n`` to this request's counter ``name``."""
        per = self.counts.setdefault(str(self.request_id), {})
        per[name] = per.get(name, 0) + n

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((name, self.request_id, sid, parent, start, end))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version; ``after(result)``
        may record counts from the call's result."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = self.call(name, fn, *args, **kwargs)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the serving path's layer boundaries: server handler, query
    service, catalog reads, kernels, PNG encoder and polygon mask."""
    import pyarrow.parquet as pq

    from geotrellis_landsat_emr_demo_spark import catalog, server
    from geotrellis_landsat_emr_demo_spark.core import geom, kernels, png
    from geotrellis_landsat_emr_demo_spark.functions import registry
    from geotrellis_landsat_emr_demo_spark.plans import queries

    make_handler = server.make_handler

    def traced_make_handler(svc):
        cls = make_handler(svc)
        for verb in ("do_GET", "do_POST"):
            handle = getattr(cls, verb)

            def spanned(self, _handle=handle):
                tracer.begin_request(self.headers.get("X-Bench-Request"))
                tracer.call("server.handle", _handle, self)

            setattr(cls, verb, spanned)
        return cls

    server.make_handler = traced_make_handler

    # read_tile: a call that reads no row group was answered by the cache
    read_tile = queries.LayerService.read_tile

    def traced_read_tile(self, *args, **kwargs):
        before = getattr(tracer._local, "row_groups", 0)
        out = tracer.call("queries.read_tile", read_tile, self, *args, **kwargs)
        if getattr(tracer._local, "row_groups", 0) == before:
            tracer.count("queries.read_tile_cached")
        elif out is not None:
            tracer.count("catalog.tiles_from_parquet")
        return out

    queries.LayerService.read_tile = traced_read_tile

    read_row_group = pq.ParquetFile.read_row_group

    def traced_read_row_group(self, *args, **kwargs):
        tracer._local.row_groups = getattr(tracer._local, "row_groups", 0) + 1
        tracer.count("catalog.row_groups")
        return tracer.call("catalog.read", read_row_group, self, *args, **kwargs)

    pq.ParquetFile.read_row_group = traced_read_row_group

    tracer.wrap(catalog.Catalog, "read_arrow", "catalog.read")
    for attr in ("polygonal_mean", "time_series", "render_tile", "render_diff"):
        tracer.wrap(queries.LayerService, attr, f"queries.{attr}")
    tracer.wrap(kernels, "decode_payload", "kernels.decode")
    for attr in ("render_rgb", "render_rgb_8bit", "classify"):
        tracer.wrap(kernels, attr, "kernels.render")
    for op in registry.OPS.values():
        op["fn"] = functools.partial(tracer.call, "kernels.index", op["fn"])
    tracer.wrap(png, "encode_rgba", "png.encode")

    def count_inside(mask):
        tracer.count("geom.pixels_inside", int(mask.sum()))
        tracer.count("geom.pixels_tested", int(mask.size))

    tracer.wrap(geom, "grid_mask", "geom.grid_mask", after=count_inside)
