"""Layer configuration model (reference input/mod.rs:16-34, tmsource.rs,
tegola.rs).

The reference reads tm2source YAML / Tegola TOML describing PostGIS-backed
layers. Here a Layer names a Spark DataFrame source (registered by the
caller) plus the same zoom/buffer knobs.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field

_log = logging.getLogger(__name__)


@dataclass
class Layer:
    """input/mod.rs:27-34.

    zoom_filter is the Spark equivalent of the reference's
    !scale_denominator!/!zoom! SQL-template idiom (input/mod.rs:97-119,
    docs/data-yml.adoc:50-54): a SQL boolean expression over the feature
    columns plus the `zoom` column, applied right after the zoom explode
    so Catalyst prunes rows before any geometry work. Planet-scale configs
    use it to thin low zooms (the z0 tile must not receive every feature).
    """
    id: str
    source: str  # name of the feature DataFrame / table
    minzoom: int = 0
    maxzoom: int = 14
    buffer: int = 0  # config pixels; 1 px = 16 tile units (lib.rs:508)
    zoom_filter: str | None = None
    # full SQL over the registered source tables (TableSQL,
    # input/mod.rs:88-123): supports the !zoom! / !scale_denominator! /
    # !pixel_width! / !pixel_height! template tokens, substituted per
    # zoom before execution; !bbox! is handled by the engine's cover join
    # and substituted with a tautology
    sql: str | None = None


_SQL_START = re.compile(r"^\s*(\(|select\b)", re.IGNORECASE)


def looks_like_sql(table: str) -> bool:
    """tm2source Datasource.table values are either a bare table name or
    an inline subquery like '( SELECT ... ) AS data' (tmsource.rs,
    input/mod.rs:88-123). Anchored: only a leading '(' or SELECT keyword
    routes through the SQL path — a plain table named 'selected_pages'
    or 'page selection' is a table, not a query."""
    return bool(_SQL_START.match(table))


def substitute_sql_tokens(sql: str, zoom: int,
                          pixel_size: float | None = None) -> str:
    """input/mod.rs:97-119: replace the mapnik-style template tokens with
    per-zoom constants. The engine's bbox cover join replaces the
    reference's per-metatile !bbox! && probe, so !bbox! becomes TRUE."""
    from .mercator import MERC_MAX, scale_denominator_for_zoom

    if pixel_size is None:
        pixel_size = (2.0 * MERC_MAX) / (256.0 * (1 << zoom))
    out = sql.replace("!zoom!", str(zoom))
    out = out.replace("!scale_denominator!",
                      repr(scale_denominator_for_zoom(zoom)))
    out = out.replace("!pixel_width!", repr(pixel_size))
    out = out.replace("!pixel_height!", repr(pixel_size))
    out = out.replace("!bbox!", "TRUE")
    return out


def wrap_layer_sql(sql: str) -> str:
    """Tegola wraps provider SQL as a derived table (input/tegola.rs:
    79-117); accept both bare SELECTs and pre-parenthesised tm2source
    subqueries."""
    s = sql.strip().rstrip(";")
    if s.lower().startswith("select"):
        return f"SELECT * FROM ({s}) _layer_sql"
    return f"SELECT * FROM {s}"


@dataclass
class Layers:
    """input/mod.rs:16-24."""
    layers: list[Layer] = field(default_factory=list)
    global_minzoom: int = 0
    global_maxzoom: int = 14
    bounds: tuple | None = None
    center: tuple | None = None
    name: str | None = None
    description: str | None = None

    def layers_for_zoom(self, zoom: int) -> list[Layer]:
        """Zoom filter with global clamp (lib.rs:473-479)."""
        out = []
        for layer in self.layers:
            maxzoom = min(layer.maxzoom, self.global_maxzoom)
            if layer.minzoom <= zoom <= maxzoom:
                out.append(layer)
        return out


def layers_from_yaml(path: str) -> Layers:
    """tm2source-style YAML reader (input/tmsource.rs:12-72). Expects:

    minzoom: 0
    maxzoom: 14
    Layer:
      - id: water
        properties: {minzoom: 0, maxzoom: 14, buffer-size: 4}
        Datasource: {table: water_features}
    """
    import yaml

    with open(path) as f:
        doc = yaml.safe_load(f)
    if not isinstance(doc, dict):
        raise yaml.YAMLError(f"not a tm2source mapping: {type(doc).__name__}")

    global_minzoom = int(doc.get("minzoom", 0))
    global_maxzoom = int(doc.get("maxzoom", 14))
    layers = []
    for entry in doc.get("Layer", []):
        props = entry.get("properties", {}) or {}
        ds = entry.get("Datasource", {}) or {}
        table = ds.get("table", entry["id"])
        is_sql = looks_like_sql(table)
        layers.append(Layer(
            id=entry["id"],
            source=entry["id"] if is_sql else table,
            sql=wrap_layer_sql(table) if is_sql else None,
            minzoom=int(props.get("minzoom", global_minzoom)),
            maxzoom=int(props.get("maxzoom", global_maxzoom)),
            buffer=int(props.get("buffer-size", 0)),
        ))
    return Layers(
        layers=layers,
        global_minzoom=global_minzoom,
        global_maxzoom=global_maxzoom,
        bounds=tuple(doc["bounds"]) if "bounds" in doc else None,
        center=tuple(doc["center"]) if "center" in doc else None,
        name=doc.get("name"),
        description=doc.get("description"),
    )


def layers_from_toml(path: str) -> Layers:
    """Tegola-style TOML reader (input/tegola.rs:79-117): [[providers]]
    with layers + [[maps]] zoom ranges; provider layer names map to Spark
    sources."""
    import tomllib

    with open(path, "rb") as f:
        doc = tomllib.load(f)

    provider_layers = {}
    for provider in doc.get("providers", []):
        for pl in provider.get("layers", []):
            provider_layers[pl["name"]] = pl

    layers = []
    global_minzoom, global_maxzoom = 0, 14
    name = None
    for m in doc.get("maps", []):
        name = m.get("name", name)
        for ml in m.get("layers", []):
            pname = ml.get("provider_layer", ml.get("name", ""))
            pname = pname.split(".")[-1]
            pl = provider_layers.get(pname, {})
            sql = pl.get("sql")
            layers.append(Layer(
                id=ml.get("name", pname),
                source=pl.get("tablename", pname),
                sql=wrap_layer_sql(sql) if sql else None,
                minzoom=int(ml.get("min_zoom", global_minzoom)),
                maxzoom=int(ml.get("max_zoom", global_maxzoom)),
                buffer=int(pl.get("buffer", 0)),
            ))
    return Layers(layers=layers, global_minzoom=global_minzoom,
                  global_maxzoom=global_maxzoom, name=name)


def layers_from_file(path: str) -> Layers:
    """YAML first, then TOML — the reference's fallback order
    (input/mod.rs:37-39). Only a file that is not tm2source YAML (a
    parse error, or a document that is not a mapping) falls back; a
    YAML config with a bad layer entry raises."""
    import yaml

    try:
        return layers_from_yaml(path)
    except yaml.YAMLError as e:
        _log.info("config fallback: %s is not tm2source YAML, reading it "
                  "as Tegola TOML (%s)", path, str(e).splitlines()[0])
        return layers_from_toml(path)
