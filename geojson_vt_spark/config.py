"""Engine configuration.

Mirrors the reference option surface (defaults: /root/reference/src/geojsonvt.ts:9-23,
option docs /root/reference/src/definitions.ts:1-66) but is a plain dataclass that is
broadcast-safe: it is carried into pandas/Arrow UDFs by closure capture, so it must
stay small and picklable.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Callable, Optional


@dataclass(frozen=True)
class ClusterOptions:
    """Supercluster options (reference defaults:
    /root/reference/src/cluster-tile-index.ts defaultClusterOptions)."""

    min_zoom: int = 0
    max_zoom: int = 16
    min_points: int = 2
    radius: float = 40.0
    extent: int = 512
    node_size: int = 64  # kd-tree leaf size in the reference; unused here (cell join)
    generate_id: bool = False
    # map/reduce property aggregation hooks (python callables applied inside
    # grouped pandas UDFs; must be deterministic + picklable)
    map_fn: Optional[Callable[[dict], dict]] = None
    reduce_fn: Optional[Callable[[dict, dict], None]] = None


@dataclass(frozen=True)
class Options:
    """Tiling options (reference: src/geojsonvt.ts:9-23)."""

    max_zoom: int = 14
    index_max_zoom: int = 5
    index_max_points: int = 100_000
    tolerance: float = 3.0
    extent: int = 4096
    buffer: int = 64
    line_metrics: bool = False
    promote_id: Optional[str] = None
    generate_id: bool = False
    updateable: bool = False
    cluster: bool = False
    cluster_options: ClusterOptions = field(default_factory=ClusterOptions)
    # the reference's debug option (tile-index.ts:14,166-169 timing logs);
    # kept for option parity, prints nothing: a build's routing decisions
    # are data on PyramidStore.decisions
    debug: int = 0

    def validate(self) -> "Options":
        # reference guards: src/geojsonvt.ts:41-42
        if self.max_zoom < 0 or self.max_zoom > 24:
            raise ValueError("maxZoom should be in the 0-24 range")
        if self.promote_id and self.generate_id:
            raise ValueError("promoteId and generateId cannot be used together.")
        return self

    def with_(self, **kw: Any) -> "Options":
        return replace(self, **kw).validate()

    @property
    def base_sq_tolerance(self) -> float:
        # simplification tolerance at convert time (src/convert.ts:49)
        return (self.tolerance / ((1 << self.max_zoom) * self.extent)) ** 2

    def zoom_tolerance(self, z: int) -> float:
        # per-zoom assembly tolerance (src/tile.ts:16)
        return 0.0 if z == self.max_zoom else self.tolerance / ((1 << z) * self.extent)
