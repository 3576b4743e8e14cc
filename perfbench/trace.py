"""Spans around the calls into each module's public functions.

The engine's functions return lazy DataFrames, so a call by itself
does no work. In a traced iteration each wrapped function's result is
materialized to parquet inside its span and handed on as a parquet
read, so the span holds that layer's own work (and the call itself,
which for kNN runs a driver loop of jobs). The wrappers replace module
attributes for the duration of one iteration and are removed after it;
`build_tiles` looks its stage functions up in the engine module, so the
one plan it builds runs layer by layer.

Spans (name, start, end, parent, run id) stay in memory and are
written as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass, field

# (module, attribute, span name): the public layer entry points
LAYER_CALLS = (
    ("tileigi_spark.extract", "geotag_pages", "extract"),
    ("tileigi_spark.engine", "cover_metatiles", "engine.cover"),
    ("tileigi_spark.engine", "geometry_stage", "engine.geometry"),
    ("tileigi_spark.engine", "encode_layers", "engine.encode"),
    ("tileigi_spark.engine", "encode_assemble_fused", "engine.encode"),
    ("tileigi_spark.engine", "assemble_tiles", "engine.assemble"),
    ("tileigi_spark.spatial", "point_in_polygon_join", "spatial.pip"),
    ("tileigi_spark.spatial", "knn_join", "spatial.knn"),
    ("tileigi_spark.partition", "read_cell_partitioned", "partition.read"),
    ("tileigi_spark.io", "run_pyramid_with_checkpoint", "io.write"),
)

# calls whose return value is not a DataFrame to materialize
_NO_RESULT = {"io.write"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: int = 0
    id: int = 0
    rows: int = 0
    path: str = ""
    args: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for the iteration numbered `run`; `install()`
    wraps LAYER_CALLS for the duration of a with-block."""

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.spans: list[Span] = []
        self.run = 0
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **args):
        sp = Span(name, time.perf_counter(), run=self.run,
                  id=next(self._ids),
                  parent=self._stack[-1].id if self._stack else None,
                  args=args)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            label = {"fn": fn.__name__}
            if name == "engine.geometry":
                # build_tiles passes (covered, layer_id, buffer_px, ...)
                label.update(layer=args[1], buffer=args[2])
            with self.span(name, **label) as sp:
                out = fn(*args, **kwargs)
                if name in _NO_RESULT:
                    return out
                sp.path = os.path.join(self.work, "trace",
                                       f"r{self.run}-s{sp.id}")
                out.write.mode("overwrite").parquet(sp.path)
            out = self.spark.read.parquet(sp.path)
            sp.rows = out.count()
            return out
        return traced

    @contextlib.contextmanager
    def install(self, run: int):
        import importlib

        self.run = run
        saved = []
        for mod_name, attr, name in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))
        try:
            yield self
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def of_run(self, run: int) -> list[Span]:
        return [s for s in self.spans if s.run == run]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def layer_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, as self time: a span's duration minus the
    part its child spans cover (io.write contains the engine's spans)."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.id, 0.0)
    return out


def layer_rows(spans: list[Span]) -> dict[str, int]:
    out: dict[str, int] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0) + s.rows
    return out
