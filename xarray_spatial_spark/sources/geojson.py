"""GeoJSON (RFC 7946) ingestion + export for the polygon pipeline.

Two scale regimes, matching how polygon data actually arrives:

- **Reference polygon sets are small and broadcast** (country/admin
  boundaries, sales territories: thousands of features, MBs) — the
  north-star PIP path keeps them driver-side inside a
  :class:`~xarray_spatial_spark.operators.pip.PolygonSet` (packed
  edges + STR R-tree) and broadcasts to executors.  :func:`read_geojson`
  parses a FeatureCollection with the stdlib json module and
  :func:`polygon_set` hands it straight to that machinery.

- **Derived geometry is corpus-scale** — :func:`polygonize` output is
  one row per region.  :func:`to_geojson_features` renders each row
  to an RFC 7946 Feature string IN CATALYST (``to_json`` over a
  nested struct — no Python in the plan), so a newline-delimited
  GeoJSON export (RFC 8142 text-sequence style, the scale form every
  tile server ingests) is just ``df.write.text``.

Parsing notes: Polygon and MultiPolygon geometries are flattened to
one entry per OUTER ring ("part"); interior rings (holes) are
returned alongside but :func:`polygon_set` refuses them by default —
the PolygonSet ray-caster tests single rings; pass
``ignore_holes=True`` to assign by exterior rings only (correct
whenever no query point falls inside a hole).  Coordinates follow the
spec's [lon, lat] order.
"""

from __future__ import annotations

import json
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_feature_collection(
    text: str,
) -> list[dict[str, Any]]:
    """FeatureCollection JSON -> one dict per polygon PART:
    ``{feature, part, exterior (V,2) float64, holes [(V,2), ...],
    properties}``.  Non-polygon geometries are skipped (points/lines
    are not zone geometry); bare Feature / bare geometry inputs are
    accepted and wrapped."""
    obj = json.loads(text)
    if obj.get("type") == "Feature":
        feats = [obj]
    elif obj.get("type") == "FeatureCollection":
        feats = obj.get("features", [])
    elif "coordinates" in obj:
        feats = [{"type": "Feature", "geometry": obj, "properties": {}}]
    else:
        raise ValueError(f"not a GeoJSON object: type={obj.get('type')!r}")
    out: list[dict[str, Any]] = []
    for fi, feat in enumerate(feats):
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        if gtype == "Polygon":
            polys = [geom["coordinates"]]
        elif gtype == "MultiPolygon":
            polys = geom["coordinates"]
        else:
            continue
        props = feat.get("properties") or {}
        for pi, rings in enumerate(polys):
            if not rings:
                continue
            ext = np.asarray(rings[0], dtype=np.float64)[:, :2]
            holes = [np.asarray(r, dtype=np.float64)[:, :2]
                     for r in rings[1:]]
            out.append({
                "feature": fi, "part": pi, "exterior": ext,
                "holes": holes, "properties": props,
            })
    return out


def read_geojson(path: str) -> list[dict[str, Any]]:
    """Driver-side file read of :func:`parse_feature_collection` —
    reference polygon sets are broadcast-scale by design (see module
    docstring); a multi-GB polygon corpus belongs in parquet rows,
    not one JSON document."""
    with open(path, encoding="utf-8") as fh:
        return parse_feature_collection(fh.read())


def polygon_set(
    path_or_parts: str | list[dict[str, Any]],
    zone_property: str | None = None,
    ignore_holes: bool = False,
):
    """GeoJSON -> (PolygonSet, zone -> properties dict); the set's
    ``verts`` (zone -> exterior ring) is what pip_join and pip_join_expr
    take.  Zones number parts 0..n-1 in document order unless
    ``zone_property`` names an integer feature property to use (its
    value must be unique per part — MultiPolygon features need the
    default numbering or a per-part property); ``ignore_holes`` assigns
    by exterior rings when parts have holes.  An empty collection gives
    an empty set, which assigns no point."""
    from xarray_spatial_spark.operators.pip import PolygonSet

    parts = (read_geojson(path_or_parts)
             if isinstance(path_or_parts, str) else path_or_parts)
    if not ignore_holes and any(p["holes"] for p in parts):
        raise NotImplementedError(
            "polygon has interior rings (holes); PolygonSet tests "
            "exterior rings only — pass ignore_holes=True to assign "
            "by exterior containment")
    polygons: dict[int, np.ndarray] = {}
    attrs: dict[int, dict[str, Any]] = {}
    for i, p in enumerate(parts):
        if zone_property is None:
            z = i
        else:
            z = int(p["properties"][zone_property])
        if z in polygons:
            raise ValueError(f"duplicate zone id {z}; zone_property "
                             "values must be unique per polygon part")
        polygons[z] = p["exterior"]
        attrs[z] = p["properties"]
    return PolygonSet(polygons), attrs


def geojson_feature(
    ring: Column,
    properties: dict[str, Column] | None = None,
) -> Column:
    """RFC 7946 Feature JSON string from an ``array<array<double>>``
    exterior-ring column ([x, y] pairs) + scalar property columns —
    pure Catalyst (`to_json`), so corpus-scale geometry exports stay
    JVM-side.  The ring is closed if its ends differ (the spec
    requires first == last)."""
    closed = F.when(
        (F.size(ring) > 0)
        & (F.element_at(ring, 1) != F.element_at(ring, -1)),
        F.concat(ring, F.array(F.element_at(ring, 1))),
    ).otherwise(ring)
    geom = F.struct(
        F.lit("Polygon").alias("type"),
        F.array(closed).alias("coordinates"),
    )
    props = F.struct(
        *[c.alias(k) for k, c in (properties or {}).items()]
    ) if properties else F.struct(F.lit(None).cast("string").alias("_"))
    feat = F.struct(
        F.lit("Feature").alias("type"),
        geom.alias("geometry"),
        props.alias("properties"),
    )
    return F.to_json(feat)


def to_geojson_features(
    regions: DataFrame,
    ring_col: str = "exterior",
    property_cols: tuple[str, ...] = ("region", "value", "area"),
) -> DataFrame:
    """polygonize() output -> one RFC 7946 Feature string per region
    (column ``feature``) — newline-delimited GeoJSON when written
    with ``df.write.text``.  Rows with empty rings (degenerate
    regions) are dropped."""
    props = {c: F.col(c) for c in property_cols if c in regions.columns}
    return (
        regions.filter(F.size(F.col(ring_col)) >= 3)
        .select(geojson_feature(F.col(ring_col), props).alias("feature"))
    )
