"""Shared helpers for the exact-integer geometry core."""

from __future__ import annotations


class GeomType:
    POINT = "Point"
    MULTIPOINT = "MultiPoint"
    LINESTRING = "LineString"
    MULTILINESTRING = "MultiLineString"
    POLYGON = "Polygon"
    MULTIPOLYGON = "MultiPolygon"


def tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero (Rust/C semantics).

    Python's // floors; the reference's i64 division truncates
    (e.g. clip/mod.rs:103-111 division ladder, validity.rs:427-431).
    """
    q = a // b
    if q < 0 and q * b != a:
        q += 1
    return q


def trem(a: int, b: int) -> int:
    """Remainder with the sign of the dividend (Rust `%` semantics)."""
    return a - tdiv(a, b) * b


def wrap_i32(v: int) -> int:
    """Wrap an arbitrary int to i32 two's complement (Rust `as i32`)."""
    v &= 0xFFFFFFFF
    return v - 0x100000000 if v >= 0x80000000 else v
