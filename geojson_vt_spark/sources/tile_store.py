"""On-disk tile pyramid store and the one tile lookup: build once with
spark-submit, serve get_tile from the written layout with pruned reads.

The live engine (operators/engine.py) serves get_tile from checkpointed
in-session DataFrames — right for interactive build+query, wrong for the
deployment the north rule describes, where one cluster job materializes the
pyramid over the 10^12-document corpus and many downstream consumers then
read single tiles. This module is that serving layout:

  * one dataset of kind-tagged store rows (model.STORE_SCHEMA): the tile
    features (kind 1) and the registry rows (kind 3, tile existence +
    drill-down metadata) side by side, written `partitionBy("z")` and sorted
    within each zoom by (x, y) — a get_tile(z, x, y) read prunes to ONE zoom
    directory at file-listing time (Catalyst PartitionFilters, the same
    mechanism as training.ivf_index_write's inverted lists) and pushes the
    x/y equality into the parquet row-group stats (PushedFilters), so a
    point lookup over a full-earth z14 pyramid (~10^8 tiles) touches one
    partition dir and the few row groups whose sorted x-range covers the
    key;
  * one lookup (`read_tiles`) serves the engine and the disk alike: one
    pruned key filter, one collect of kinds 1 and 3, so a stored tile, a
    registered-but-empty tile and a never-built key each cost one Spark job.

Semantics: `DiskTileServer.get_tile` returns exactly what the engine's
`get_tile` returns for every tile the build materialized (parity-tested
over whole fixture pyramids in tests/test_tile_store.py). What it does NOT
do is lazy drill-down below the indexed zoom — the store is a read-only
artifact; tiles not materialized return None. A deployment wanting
drill-down keeps a live engine over the retained sources (the registry's
has_source column says which ancestors can drill) — reference semantics:
tile-index.ts:82-120 (lookup), geojsonvt.ts:62-80 (index vs on-demand).
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import KIND_REGISTRY, KIND_TILE, REGISTRY_SCHEMA, STORE_SCHEMA
from ..model import TILE_FEATURE_SCHEMA, kind_rows, store_rows, tile_feature_from_row
from ..model import tile_key, tile_key_col

# the on-disk dataset holds kinds 1 and 3, so only their columns are written
_DISK_COLS = [
    n for n in STORE_SCHEMA.names
    if n in TILE_FEATURE_SCHEMA.names + REGISTRY_SCHEMA.names + ["kind"]
]
# what a tile read collects
_READ_COLS = ["z", "x", "y", "kind", "okey", "tf_type", "tf_id", "tf_tags", "tf_geom"]


def lookup_frame(
    store: DataFrame, keys: Iterable, kinds=(KIND_TILE, KIND_REGISTRY)
) -> DataFrame:
    """The rows of `kinds` at `keys` in a STORE_SCHEMA frame.

    Keys are normalized as the reference's getTile does (geojsonvt.ts:82-94):
    z outside [0, 24] matches nothing, x wraps mod 2^z; y outside the zoom's
    range matches nothing too, which keeps the packed key collision-free.
    The attribute conjuncts prune a z-partitioned parquet store (z ->
    PartitionFilters, so only the requested zoom dirs are LISTED; x/y isin
    -> PushedFilters against the xy-sorted row-group stats); the exact
    packed key is arithmetic, evaluated post-scan. Over the engine's store
    the kind conjunct folds away every branch tagged with another literal
    kind, so a tile read never evaluates the lazily cached sources."""
    norm = set()
    for z, x, y in keys:
        z, x, y = int(z), int(x), int(y)
        if 0 <= z <= 24 and 0 <= y < (1 << z):
            norm.add((z, x & ((1 << z) - 1), y))
    if not norm:  # folds to an empty relation: collecting it runs no job
        return store.where(F.lit(False))
    return store.where(
        F.col("kind").isin(list(kinds))
        & F.col("z").isin(sorted({z for z, _x, _y in norm}))
        & F.col("x").isin(sorted({x for _z, x, _y in norm}))
        & F.col("y").isin(sorted({y for _z, _x, y in norm}))
        & tile_key_col().isin([tile_key(*k) for k in norm])
    )


def read_tiles(store: DataFrame, keys: Optional[Iterable] = None) -> dict:
    """{(z, x, y): [tile features]} from a STORE_SCHEMA frame, for `keys`
    (every registered tile when None), in ONE collect of kinds 1 and 3.
    A key with a registry row and no features maps to []; a key with no
    registry row is absent. Driver cost stays O(returned features)."""
    if keys is None:
        df = store.where(F.col("kind").isin(KIND_TILE, KIND_REGISTRY))
    else:
        df = lookup_frame(store, keys)
    out: dict = {}
    feats: dict = {}
    for r in df.select(*_READ_COLS).collect():
        key = (r.z, r.x, r.y)
        if r.kind == KIND_REGISTRY:
            out[key] = []
        else:
            feats.setdefault(key, []).append(r)
    for key, rs in feats.items():
        if key in out:
            rs.sort(key=lambda r: tuple(r.okey))
            out[key] = [tile_feature_from_row(r.asDict()) for r in rs]
    return out


def write_tile_store(tiles: DataFrame, registry: DataFrame, path: str) -> None:
    """Materialize a built pyramid as the serving layout. `tiles`/`registry`
    are the engine's tiles()/registry() frames (or the pyramid job's
    equivalents). They become ONE dataset of kind-tagged rows in one
    shuffle (repartition by z) and one write, so every zoom becomes one
    sorted file set; at 100 TB widen the repartition to (z, x-range)
    buckets — the layout contract (z dirs, xy-sorted files) is unchanged."""
    (
        store_rows(tiles, KIND_TILE)
        .union(store_rows(registry, KIND_REGISTRY))
        .select(*_DISK_COLS)
        .repartition(F.col("z"))
        .sortWithinPartitions("z", "x", "y", "kind", "okey")
        .write.mode("overwrite")
        .partitionBy("z")
        .parquet(path)
    )


class DiskTileServer:
    """Point get_tile lookups against a written tile store."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # the engine's layout (absent columns read as null); an explicit
        # schema, so an empty store (no tiles at all) still reads
        self.store = spark.read.schema(STORE_SCHEMA).parquet(path)
        # kind views, for consumers that scan one table
        self.tiles = kind_rows(self.store, KIND_TILE, TILE_FEATURE_SCHEMA)
        self.registry = kind_rows(self.store, KIND_REGISTRY, REGISTRY_SCHEMA)

    def get_tile(self, z, x, y) -> Optional[list]:
        """Same contract as the engine's materialized-tile path: None for
        unknown/never-built tiles, the reference tile-feature list otherwise.
        One pruned scan (read_tiles) returns the registry row and the
        features together: one Spark job for a stored tile, an empty one
        and a never-built key alike."""
        return next(iter(read_tiles(self.store, [(z, x, y)]).values()), None)

    def all_tile_keys(self) -> list:
        """Registry enumeration, for parity sweeps and consumers that shard
        the pyramid: [(z, x, y), ...]."""
        return [
            (r.z, r.x, r.y)
            for r in self.registry.select("z", "x", "y").collect()
        ]

    def get_tiles(self, keys) -> dict:
        """Batch point lookups keyed 'z{z}-{x}-{y}': ONE pruned scan for the
        whole key list (read_tiles). Keys absent from the registry are
        omitted; keys the registry knows but whose tile is empty map to [].
        The batch's z values prune the file listing to exactly those zoom
        directories (gated in test_tile_store.py: the scan's numPartitions
        == number of distinct requested z). This is the serving shape for a
        renderer fetching a viewport (a few dozen keys) or a shard sweep
        (thousands)."""
        return {
            f"z{z}-{x}-{y}": tile
            for (z, x, y), tile in read_tiles(self.store, keys).items()
        }
