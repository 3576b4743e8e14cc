"""Seeded input synthesis for the benchmark workloads.

Every generator is pure numpy id arithmetic, so one seed always gives the
same rows. The seed only offsets the ids the arithmetic starts from
(``offset = seed * n``), which moves every coordinate while keeping the
input sizes and shape mix fixed. The shapes follow the generators of the
repository's ``bench.py``: the same page text, the same axis-aligned
boxes, zigzag lines and (imported, not copied) concave 16-gons. Tables
are staged straight to parquet with pyarrow; the engine only ever sees
these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tileigi_spark.mercator import MERC_MAX, lonlat_to_merc

LANGS = np.array(["en", "zh", "es", "fr", "de"])
WORLD = 2.0 * MERC_MAX
SPAN = 0.95 * MERC_MAX
MAX_SEED = 1 << 20


def fold_seed(seed: int) -> int:
    """Map any integer seed into [0, 2^20), the range whose id arithmetic
    stays within int64; seeds already in that range are unchanged."""
    return seed % MAX_SEED


def _mulmod(i, a: int, m: int):
    """(i * a) % m without int64 overflow for any non-negative i."""
    return ((i % m) * (a % m)) % m


def write_table(df: dict, path: str, files: int) -> None:
    """Stage a column dict as `files` parquet files under directory path
    (several files, so the scan has one split per core)."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(df.values())))
    bounds = np.linspace(0, n, files + 1).astype(np.int64)
    table = pa.table(df)
    for k in range(files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def _point_wkb(x, y) -> list:
    m = len(x)
    buf = np.empty((m, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = np.array([1, 0, 0, 0], dtype=np.uint8)
    buf[:, 5:13] = np.ascontiguousarray(x, "<f8").view(np.uint8).reshape(-1, 8)
    buf[:, 13:21] = np.ascontiguousarray(y, "<f8").view(np.uint8).reshape(-1, 8)
    raw = buf.tobytes()
    return [raw[j * 21:(j + 1) * 21] for j in range(m)]


def _ring_wkb(px, py, type_code: int) -> list:
    """Single-ring polygon (type 3) or linestring (type 2) WKB for
    equal-length vertex rows px/py of shape (m, k)."""
    m, k = px.shape
    head = 13 if type_code == 3 else 9
    width = head + 16 * k
    buf = np.empty((m, width), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = np.array([type_code, 0, 0, 0], dtype=np.uint8)
    if type_code == 3:
        buf[:, 5:9] = np.array([1, 0, 0, 0], dtype=np.uint8)
    buf[:, head - 4:head] = np.frombuffer(np.uint32(k).tobytes(), np.uint8)
    pts = np.empty((m, k, 2), dtype="<f8")
    pts[:, :, 0] = px
    pts[:, :, 1] = py
    buf[:, head:] = pts.reshape(m, 2 * k).view(np.uint8)
    raw = buf.tobytes()
    return [raw[j * width:(j + 1) * width] for j in range(m)]


def page_ids(seed: int, n_docs: int, replicas: int):
    """(page ids, doc ids) of the synthetic crawl: n_docs documents, each
    replicated `replicas` times, as bench.synth_pages derives pages."""
    doc = seed * n_docs + np.arange(n_docs, dtype=np.int64)
    rep = np.arange(replicas, dtype=np.int64)
    pid = (doc[:, None] * replicas + rep[None, :]).ravel()
    return pid, np.repeat(doc, replicas)


def page_latlon(pid):
    """Coordinates a page mentions, in thousandths of a degree."""
    lat = _mulmod(pid, 2654435761, 140000) - 70000
    lon = _mulmod(pid, 40503, 360000) - 180000
    return lat, lon


def _mil(v: int) -> str:
    return f"{'-' if v < 0 else ''}{abs(v) // 1000}.{abs(v) % 1000:03d}"


def pages(seed: int, n_docs: int, replicas: int) -> dict:
    """Crawl pages (page_id, url, text, lang) whose text mentions one
    coordinate pair each: the input of extract.geotag_pages."""
    pid, doc = page_ids(seed, n_docs, replicas)
    lat, lon = page_latlon(pid)
    text = [f"crawl page reporting from {_mil(a)}, {_mil(o)} "
            "with some trailing prose about the town"
            for a, o in zip(lat.tolist(), lon.tolist())]
    return {"page_id": pid,
            "url": [f"https://bench-{p:09d}.test/" for p in pid.tolist()],
            "text": text,
            "lang": LANGS[doc % len(LANGS)]}


def points(seed: int, n_docs: int, replicas: int) -> dict:
    """The geotagged points those pages yield (what geotag_pages would
    extract), as engine features with bbox columns: feature_id, way, lang,
    mx, my and xmin/ymin/xmax/ymax."""
    pid, doc = page_ids(seed, n_docs, replicas)
    lat, lon = page_latlon(pid)
    mx, my = lonlat_to_merc(lon / 1000.0, lat / 1000.0)
    return {"feature_id": pid, "way": _point_wkb(mx, my),
            "lang": LANGS[doc % len(LANGS)], "mx": mx, "my": my,
            "xmin": mx, "ymin": my, "xmax": mx, "ymax": my}


def _ids(seed: int, n: int):
    return seed * n + np.arange(n, dtype=np.int64)


def _bbox_cols(px, py) -> dict:
    return {"xmin": px.min(axis=1), "ymin": py.min(axis=1),
            "xmax": px.max(axis=1), "ymax": py.max(axis=1)}


def boxes(seed: int, n: int) -> dict:
    """Axis-aligned boxes, one third with reversed winding (rect lane)."""
    i = _ids(seed, n)
    cx = _mulmod(i, 2654435761, 2_000_000) / 1e6 * SPAN - SPAN
    cy = _mulmod(i, 40503, 2_000_000) / 1e6 * SPAN - SPAN
    hw = 2000.0 * (1.0 + (i % 289))
    hh = 2000.0 * (1.0 + ((i * 7) % 289))
    x0, x1, y0, y1 = cx - hw, cx + hw, cy - hh, cy + hh
    rev = (i % 3) == 0
    px = np.stack([x0, np.where(rev, x0, x1), x1, np.where(rev, x1, x0), x0],
                  axis=1)
    py = np.stack([y0, np.where(rev, y1, y0), y1, np.where(rev, y0, y1), y0],
                  axis=1)
    return {"feature_id": i, "way": _ring_wkb(px, py, 3),
            "kind": np.char.add("kind-", (i % 7).astype("U1")),
            **_bbox_cols(px, py)}


def concave(seed: int, n: int) -> dict:
    """Concave 16-gons, one third reversed winding (ragged lane and its
    make_valid repair); vertices from bench.concave_vertex_arrays."""
    from bench import concave_vertex_arrays

    i = _ids(seed, n)
    px, py = concave_vertex_arrays(i)
    return {"feature_id": i, "way": _ring_wkb(px, py, 3),
            "kind": np.char.add("area-", (i % 6).astype("U1")),
            **_bbox_cols(px, py)}


def lines(seed: int, n: int) -> dict:
    """4-point zigzag polylines (line lane of the encoder)."""
    i = _ids(seed, n)
    cx = (_mulmod(i, 1812433253, 2_000_000) + 11) % 2_000_000 / 1e6 * SPAN \
        - SPAN
    cy = (_mulmod(i, 69069, 2_000_000) + 5) % 2_000_000 / 1e6 * SPAN - SPAN
    s = 3000.0 * (1.0 + (i % 211))
    px = np.stack([cx - 2 * s, cx, cx + 2 * s, cx + 3 * s], axis=1)
    py = np.stack([cy, cy + s, cy - s, cy], axis=1)
    return {"feature_id": i, "way": _ring_wkb(px, py, 2),
            "kind": np.char.add("way-", (i % 5).astype("U1")),
            **_bbox_cols(px, py)}


def nation_boxes() -> dict:
    """The 25 nation boxes of the repository's PIP oracle (a 6x5 grid)."""
    nk = np.arange(25, dtype=np.int64)
    x0 = ((nk % 6) / 6.0 - 0.5) * WORLD + 1000.0
    x1 = x0 + WORLD / 6.0 - 2000.0
    y0 = ((nk // 6) / 5.0 - 0.5) * (WORLD * 0.9) + 1000.0
    y1 = y0 + (WORLD * 0.9) / 5.0 - 2000.0
    px = np.stack([x0, x0, x1, x1, x0], axis=1)
    py = np.stack([y0, y1, y1, y0, y0], axis=1)
    return {"n_nationkey": nk.astype(np.int32), "way": _ring_wkb(px, py, 3)}
