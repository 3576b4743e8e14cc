"""Mapbox Vector Tile 2.1 protobuf encoder (pure Python, no deps).

Written from the public MVT 2.1 spec (github.com/mapbox/vector-tile-spec).
Replaces the reference's external `mapbox_vector_tile` crate
(lib.rs:330,362,504,724-726). Layer-level key/value dictionaries replicate
the semantic role of the reference's StringStore interning
(stringstore.rs:6-40).

An MVT tile is a sequence of independently-encoded layer messages, so
per-tile assembly is byte concatenation of layer fields — the property the
reference's layer-append mode relies on (fileio.rs:164-185) and that our
salted partial-encode merge uses.
"""

from __future__ import annotations

import gzip


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _encode_value(v) -> bytes:
    """MVT Value message. Type mapping follows the reference's PG->MVT
    table (lib.rs:653-684): str->string, float(f32)->float_value,
    double->double_value, int->int_value (sint64 varint uses field 4 with
    plain varint of the two's complement — spec uses int_value=4 as int64),
    bool->bool_value."""
    import struct
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, str):
        return _len_delim(1, v.encode("utf-8"))
    if isinstance(v, int):
        # int_value field 4, varint (negative -> 10-byte two's complement)
        return _tag(4, 0) + _varint(v & 0xFFFFFFFFFFFFFFFF)
    if isinstance(v, float):
        return _tag(3, 1) + struct.pack("<d", v)
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "f32":
        return _tag(2, 5) + struct.pack("<f", v[1])
    raise ValueError(f"unsupported MVT value {v!r}")


_GEOM_TYPE_CODE = {
    "Point": 1, "MultiPoint": 1,
    "LineString": 2, "MultiLineString": 2,
    "Polygon": 3, "MultiPolygon": 3,
}


def _geometry_commands(geom):
    """Command-integer stream with zigzag deltas (MVT spec §4.3)."""
    typ, data = geom
    cmds = []
    cx = cy = 0

    if typ in ("Point", "MultiPoint"):
        pts = [data] if typ == "Point" else data
        cmds.append((len(pts) << 3) | 1)
        for x, y in pts:
            cmds.append(_zigzag(x - cx))
            cmds.append(_zigzag(y - cy))
            cx, cy = x, y
    elif typ in ("LineString", "MultiLineString"):
        lines = [data] if typ == "LineString" else data
        for pts in lines:
            cmds.append((1 << 3) | 1)
            cmds.append(_zigzag(pts[0][0] - cx))
            cmds.append(_zigzag(pts[0][1] - cy))
            cx, cy = pts[0]
            cmds.append(((len(pts) - 1) << 3) | 2)
            for x, y in pts[1:]:
                cmds.append(_zigzag(x - cx))
                cmds.append(_zigzag(y - cy))
                cx, cy = x, y
    elif typ in ("Polygon", "MultiPolygon"):
        polys = [data] if typ == "Polygon" else data
        for rings in polys:
            for ring in rings:
                pts = ring[:-1] if len(ring) >= 2 and ring[0] == ring[-1] else ring
                if len(pts) < 3:
                    continue
                cmds.append((1 << 3) | 1)
                cmds.append(_zigzag(pts[0][0] - cx))
                cmds.append(_zigzag(pts[0][1] - cy))
                cx, cy = pts[0]
                cmds.append(((len(pts) - 1) << 3) | 2)
                for x, y in pts[1:]:
                    cmds.append(_zigzag(x - cx))
                    cmds.append(_zigzag(y - cy))
                    cx, cy = x, y
                cmds.append((1 << 3) | 7)  # ClosePath
    else:
        raise ValueError(f"unsupported geometry {typ}")
    return cmds


def _varint3_parts(v):
    """Vector varint split for uint64 values < 2^21: returns the three
    potential bytes plus per-value byte count (1..3)."""
    import numpy as np
    v = v.astype(np.uint64)
    m7 = np.uint64(0x7F)
    cont = np.uint64(0x80)
    b0 = ((v & m7) | cont * (v >= 0x80)).astype(np.uint8)
    b1 = (((v >> np.uint64(7)) & m7) | cont * (v >= 0x4000)).astype(np.uint8)
    b2 = ((v >> np.uint64(14)) & m7).astype(np.uint8)
    nb = (1 + (v >= 0x80).astype(np.int64)
          + (v >= 0x4000).astype(np.int64))
    return b0, b1, b2, nb


def _tag_field(prop_tags, n):
    """The tags field (field 2) of n features framed by
    ringbulk.bulk_frame_ragged_features.

    prop_tags: one (ki, vi, valid) triple of (n,) arrays per property
    slot, in the order the per-row path visits a row's properties: key
    and value indices (already interned) and the mask of rows that have
    a value in the slot.

    Returns (T, U, tag_len): an (n, 2 + 4P) uint8 byte matrix with its
    used-byte mask — [0x12][payload length][key, value x3] per property,
    all unused on rows without a valid value — and each row's byte
    length of the field (0 on untagged rows). None when a width bound
    is exceeded (> 31 properties, key index >= 128, value index
    >= 2^21): the caller falls back to per-row."""
    import numpy as np

    P = len(prop_tags)
    if P > 31:
        return None  # tags-payload 1-byte varint bound (4P < 128)
    kparts, vparts = [], []
    for ki, vi, valid in prop_tags:
        ki = np.where(valid, ki, 0)
        vi = np.where(valid, vi, 0).astype(np.uint64)
        if n and (int(ki.max()) >= 128 or int(vi.max()) >= (1 << 21)):
            return None
        kparts.append(ki.astype(np.uint8))
        vparts.append(_varint3_parts(vi))
    pair_len = np.zeros(n, dtype=np.int64)
    for (_, _, valid), (_, _, _, vnb) in zip(prop_tags, vparts):
        pair_len += valid * (1 + vnb)
    has_tags = pair_len > 0

    T = np.zeros((n, 2 + 4 * P), dtype=np.uint8)
    U = np.zeros((n, 2 + 4 * P), dtype=bool)
    T[:, 0] = 0x12                      # tags: field 2, wire 2
    U[:, 0] = has_tags
    T[:, 1] = pair_len.astype(np.uint8)
    U[:, 1] = has_tags
    c = 2
    for ki, (_, _, valid), (vb0, vb1, vb2, vnb) in zip(kparts, prop_tags,
                                                      vparts):
        T[:, c] = ki                    # key index varint (< 128: 1 byte)
        U[:, c] = valid
        T[:, c + 1] = vb0
        U[:, c + 1] = valid
        T[:, c + 2] = vb1
        U[:, c + 2] = valid & (vnb > 1)
        T[:, c + 3] = vb2
        U[:, c + 3] = valid & (vnb > 2)
        c += 4
    return T, U, has_tags * (2 + pair_len)


def encode_feature(geom, tags) -> bytes:
    cmds = _geometry_commands(geom)
    body = b""
    if tags:
        tag_payload = b"".join(_varint(t) for t in tags)
        body += _len_delim(2, tag_payload)
    body += _tag(3, 0) + _varint(_GEOM_TYPE_CODE[geom[0]])
    geom_payload = b"".join(_varint(c) for c in cmds)
    body += _len_delim(4, geom_payload)
    return body


class LayerEncoder:
    """Incremental layer builder with interned keys/values
    (first-appearance order, deterministic given feature order).

    The per-row reference for the engine's encode walk
    (engine._make_encode_run), which frames whole Arrow batches with the
    bulk framer and must produce the bytes this class does for every
    run (tests/test_mvt_bulk.py, tests/test_mvt_ragged.py)."""

    def __init__(self, name: str, extent: int = 4096):
        self.name = name
        self.extent = extent
        self.keys = []
        self._key_idx = {}
        self.values = []
        self._val_idx = {}
        self.features = []  # framed field-2 messages

    def intern_key(self, k) -> int:
        ki = self._key_idx.get(k)
        if ki is None:
            ki = len(self.keys)
            self._key_idx[k] = ki
            self.keys.append(k)
        return ki

    def intern_value(self, v) -> int:
        vk = (type(v).__name__, v)
        vi = self._val_idx.get(vk)
        if vi is None:
            vi = len(self.values)
            self._val_idx[vk] = vi
            self.values.append(v)
        return vi

    def add_feature(self, geom, properties):
        tags = []
        for k, v in properties.items():
            if v is None:
                continue  # NULL properties omitted (lib.rs:656,680)
            tags.extend((self.intern_key(k), self.intern_value(v)))
        self.features.append(_len_delim(2, encode_feature(geom, tags)))

    def to_bytes(self) -> bytes:
        body = _tag(15, 0) + _varint(2)  # version
        body += _len_delim(1, self.name.encode("utf-8"))
        body += b"".join(self.features)
        for k in self.keys:
            body += _len_delim(3, k.encode("utf-8"))
        for v in self.values:
            body += _len_delim(4, _encode_value(v))
        body += _tag(5, 0) + _varint(self.extent)
        return body


def encode_layer(name, features, extent: int = 4096) -> bytes:
    """features: iterable of (geom, properties dict)."""
    enc = LayerEncoder(name, extent)
    for geom, props in features:
        enc.add_feature(geom, props)
    return enc.to_bytes()


def encode_tile(layer_bytes_list, compress: bool = True) -> bytes:
    """Assemble layer messages into a tile (field 3 per layer), gzip'd.

    Because layers are independent length-delimited fields, partial layers
    encoded on different partitions merge by concatenating their framed
    bytes — the salted-skew merge path (SURVEY.md O13)."""
    tile = b"".join(_len_delim(3, lb) for lb in layer_bytes_list)
    if compress:
        return gzip.compress(tile, compresslevel=6, mtime=0)
    return tile


# ------------------------------------------------------------------ decoder
# Minimal layer parser used by the salted-skew merge path: partial layers
# encoded on different executors are merged into one layer by re-interning
# keys/values and remapping feature tags. Feature geometry bytes pass
# through untouched (the MVT cursor resets per feature).

def _read_varint(buf, pos):
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _iter_fields(buf):
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 2:
            length, pos = _read_varint(buf, pos)
            yield field, buf[pos:pos + length]
            pos += length
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field, v
        elif wire == 5:
            yield field, buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            yield field, buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _decode_value(buf):
    import struct
    for field, payload in _iter_fields(buf):
        if field == 1:
            return payload.decode("utf-8")
        if field == 2:
            return ("f32", struct.unpack("<f", payload)[0])
        if field == 3:
            return struct.unpack("<d", payload)[0]
        if field == 4:
            v = payload
            return v - (1 << 64) if v >= (1 << 63) else v
        if field == 7:
            return bool(payload)
    raise ValueError("empty MVT value")


def decode_layer(buf):
    """Parse a layer message -> dict(name, extent, keys, values, features)
    where features = [(type_code, tags list, geometry varint payload)]."""
    name = None
    extent = 4096
    keys, values, features = [], [], []
    for field, payload in _iter_fields(buf):
        if field == 1:
            name = payload.decode("utf-8")
        elif field == 5:
            extent = payload
        elif field == 3:
            keys.append(payload.decode("utf-8"))
        elif field == 4:
            values.append(_decode_value(payload))
        elif field == 2:
            ftype, tags, geom = 0, [], b""
            fid = None
            for ff, pp in _iter_fields(payload):
                if ff == 1:
                    fid = pp
                elif ff == 2:
                    pos = 0
                    while pos < len(pp):
                        v, pos = _read_varint(pp, pos)
                        tags.append(v)
                elif ff == 3:
                    ftype = pp
                elif ff == 4:
                    geom = pp
            features.append((ftype, tags, geom, fid))
    return {"name": name, "extent": extent, "keys": keys,
            "values": values, "features": features}


def merge_partial_layers(partials):
    """Merge several partial encodings of the SAME layer (ordered list of
    layer-message bytes) into one layer message. Deterministic given input
    order; used to break (z,x,y) hot-tile skew (SURVEY.md §4 O13)."""
    if len(partials) == 1:
        return partials[0]
    first = decode_layer(partials[0])
    out_keys, out_vals = [], []
    key_idx, val_idx = {}, {}
    # one join at the end: appending to a bytes body copies it every
    # time, quadratic in a hot tile's feature count
    body = [_tag(15, 0) + _varint(2),
            _len_delim(1, first["name"].encode("utf-8"))]
    feature_frames = []
    for pb in partials:
        lay = decode_layer(pb)
        kmap = []
        for k in lay["keys"]:
            if k not in key_idx:
                key_idx[k] = len(out_keys)
                out_keys.append(k)
            kmap.append(key_idx[k])
        vmap = []
        for v in lay["values"]:
            vk = (type(v).__name__, v)
            if vk not in val_idx:
                val_idx[vk] = len(out_vals)
                out_vals.append(v)
            vmap.append(val_idx[vk])
        for ftype, tags, geom, fid in lay["features"]:
            new_tags = []
            for i in range(0, len(tags), 2):
                new_tags.append(kmap[tags[i]])
                new_tags.append(vmap[tags[i + 1]])
            fbody = b""
            if new_tags:
                fbody += _len_delim(2, b"".join(_varint(t) for t in new_tags))
            fbody += _tag(3, 0) + _varint(ftype)
            fbody += _len_delim(4, geom)
            feature_frames.append(fbody)
    body.extend(_len_delim(2, f) for f in feature_frames)
    body.extend(_len_delim(3, k.encode("utf-8")) for k in out_keys)
    body.extend(_len_delim(4, _encode_value(v)) for v in out_vals)
    body.append(_tag(5, 0) + _varint(first["extent"]))
    return b"".join(body)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def decode_geometry(ftype: int, payload: bytes):
    """Inverse of _geometry_commands: MVT command stream -> geom tuple
    (('Point', (x, y)), ('MultiLineString', [...]), …). Polygon rings are
    regrouped by winding: per MVT spec §4.3.4 an exterior ring has
    positive signed area under the surveyor's formula in tile (y-down)
    coords, and interior rings follow their exterior."""
    coords = []
    pos = 0
    cx = cy = 0
    parts = []   # list of coordinate runs, one per MoveTo block
    while pos < len(payload):
        cmd, pos = _read_varint(payload, pos)
        cmd_id, count = cmd & 0x7, cmd >> 3
        if cmd_id in (1, 2):  # MoveTo / LineTo
            run = parts[-1] if (cmd_id == 2 and parts) else None
            if run is None:
                run = []
                parts.append(run)
            for _ in range(count):
                dx, pos = _read_varint(payload, pos)
                dy, pos = _read_varint(payload, pos)
                cx += _unzigzag(dx)
                cy += _unzigzag(dy)
                if cmd_id == 1 and count > 1:
                    # multipoint: each MoveTo vertex is its own part
                    parts.append([(cx, cy)])
                else:
                    run.append((cx, cy))
            if cmd_id == 1 and count > 1 and not parts[0]:
                parts.pop(0)
        elif cmd_id == 7:  # ClosePath
            parts[-1].append(parts[-1][0])
        else:
            raise ValueError(f"bad MVT command {cmd_id}")
    if ftype == 1:
        pts = [p for run in parts for p in run]
        return ("Point", pts[0]) if len(pts) == 1 else ("MultiPoint", pts)
    if ftype == 2:
        return (("LineString", parts[0]) if len(parts) == 1
                else ("MultiLineString", parts))
    if ftype == 3:
        def area2(ring):
            s = 0
            for i in range(len(ring) - 1):
                s += (ring[i][0] * ring[i + 1][1]
                      - ring[i + 1][0] * ring[i][1])
            return s
        polys = []
        for ring in parts:
            # y-down coords: CW on screen (exterior) = positive area here
            if area2(ring) >= 0 or not polys:
                polys.append([ring])
            else:
                polys[-1].append(ring)
        return (("Polygon", polys[0]) if len(polys) == 1
                else ("MultiPolygon", polys))
    raise ValueError(f"unknown MVT geometry type {ftype}")


def decode_tile(tile_bytes: bytes):
    """Tile bytes (optionally gzip'd) -> list of decoded layer dicts."""
    if tile_bytes[:2] == b"\x1f\x8b":
        tile_bytes = gzip.decompress(tile_bytes)
    return [decode_layer(payload)
            for field, payload in _iter_fields(tile_bytes) if field == 3]
