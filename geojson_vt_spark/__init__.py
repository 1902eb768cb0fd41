"""Public API — mirrors the reference's export surface (src/index.ts:10-16:
GeoJSONVT, Supercluster, geoJSONToTile, clip constants) so a reference user
can switch imports 1:1, plus the option dataclasses Spark users configure.

The names load on first access (PEP 562 module __getattr__), so importing a
submodule — a Python worker unpickling a pyramid or grid kernel — does not
pull in the engine, pandas or the cluster index. Heavy submodules
(analytics, training, streaming) are imported explicitly by path.
"""

import importlib

# public name -> (submodule, attribute)
_EXPORTS = {
    "GeoJSONVTSpark": ("operators.engine", "GeoJSONVTSpark"),
    "ClusterTileIndexSpark": ("cluster.index", "ClusterTileIndexSpark"),
    # reference naming alias (index.ts exports ClusterTileIndex as Supercluster)
    "SuperclusterSpark": ("cluster.index", "ClusterTileIndexSpark"),
    "geojson_to_tile": ("operators.geojson_to_tile", "geojson_to_tile"),
    "GEOJSONVT_CLIP_START": ("functions.tile", "GEOJSONVT_CLIP_START"),
    "GEOJSONVT_CLIP_END": ("functions.tile", "GEOJSONVT_CLIP_END"),
    "Options": ("config", "Options"),
    "ClusterOptions": ("config", "ClusterOptions"),
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module, attr = _EXPORTS[name]
    value = getattr(importlib.import_module(f".{module}", __name__), attr)
    globals()[name] = value
    return value
