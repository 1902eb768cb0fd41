"""GeoJSONVTSpark — the user-facing engine facade.

API parity with the reference GeoJSONVT class (/root/reference/src/geojsonvt.ts):
construct from GeoJSON (or a documents DataFrame), get_tile(z, x, y) with lazy
drill-down, all_tiles() for pyramid-wide export (the genTiles shape used by the
reference golden tests, /root/reference/test/full.test.ts:52-72).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..cluster.index import ClusterTileIndexSpark
from ..config import ClusterOptions, Options
from ..model import FEATURE_SCHEMA, KIND_REGISTRY, KIND_SOURCE
from ..model import geojson_to_feature_rows, local_frame, num_points_col
from ..model import tile_key, tile_key_col
from ..plans.pyramid import PyramidStore, build_pyramid
from ..sources.tile_store import lookup_frame, read_tiles


def _counted_checkpoint(df: DataFrame) -> tuple:
    """(eager localCheckpoint of df, (rows, vertices)): build_pyramid's
    start counts of the z0 root, observed metrics of the checkpoint's own
    job rather than a second job."""
    obs = Observation()
    ckpt = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(num_points_col()), F.lit(0)).alias("points"),
    ).localCheckpoint(eager=True)
    return ckpt, (obs.get["n"], obs.get["points"])


class GeoJSONVTSpark:
    def __init__(
        self,
        spark: SparkSession,
        data: Optional[dict] = None,
        options: Optional[Options] = None,
        features_df: Optional[DataFrame] = None,
        workdir: Optional[str] = None,
        resume: bool = False,
    ):
        self.spark = spark
        self.options = (options or Options()).validate()

        if features_df is None:
            if data is None:
                raise ValueError("provide GeoJSON data or a features_df")
            rows = geojson_to_feature_rows(data, self.options)
            features_df = local_frame(spark, rows, FEATURE_SCHEMA)

        # updateable source snapshot (geojsonvt.ts:57-59). The caller's plan
        # runs once: the snapshot here, or the build's frontier checkpoint;
        # an empty input is found from data already computed (the
        # snapshot's counts), never by a probe job over the caller's plan.
        self.source_df: Optional[DataFrame] = None
        # (rows, vertices) of the snapshot, None without one
        self._source_counts: Optional[tuple] = None
        self._batch = 3  # okey batch prefix for appended diffs (init uses 0-2)
        if self.options.updateable or self.options.cluster:
            features_df, self._source_counts = _counted_checkpoint(features_df)
        if self.options.updateable:
            self.source_df = features_df

        self.cluster_index: Optional[ClusterTileIndexSpark] = None
        if self.options.cluster:
            # cluster mode (geojsonvt.ts:64-68): ClusterTileIndex over the
            # wrapped point features instead of the tile pyramid; empty
            # input leaves it uninitialized
            self.store = PyramidStore(spark)
            self.cluster_index = ClusterTileIndexSpark(
                spark, self.options.cluster_options
            )
            if self._source_counts[0]:
                self.cluster_index.initialize_df(features_df)
            return

        # empty input -> empty index (geojsonvt.ts:64-67 skips initialize):
        # build_pyramid's first pass appends nothing when z0 holds no rows
        self.store: PyramidStore = build_pyramid(
            features_df, self.options, workdir=workdir, resume=resume,
            start_counts=self._source_counts,
        )

    # -- queries ------------------------------------------------------------

    def registry(self) -> DataFrame:
        return self.store.registry_df()

    def tiles(self) -> DataFrame:
        return self.store.tiles_df()

    def stats(self) -> dict:
        """Per-zoom created-tile counters, 'z{z}' keys — the reference's
        debug stats object (tile-index.ts:14,56-59,166-169; invalidation
        decrements at :293-294 are reflected because invalidated tiles leave
        the registry). One small aggregate job over the registry."""
        rows = self.registry().groupBy("z").count().collect()
        return {f"z{r.z}": r["count"] for r in sorted(rows, key=lambda r: r.z)}

    @property
    def total(self) -> int:
        """Total registered tiles (tile-index.ts:9 `total` counter)."""
        return self.registry().count()

    def all_tiles(self) -> dict:
        """Collect the whole pyramid keyed 'z{z}-{x}-{y}' -> [tile features]
        (the reference genTiles shape). One collect (read_tiles).

        TEST SURFACE, NOT SERVING: this materializes every tile on the
        driver — reference-parity and fixture comparisons only. Serving
        reads go through DiskTileServer.get_tile/get_tiles
        (sources/tile_store.py), which scan only the pruned partitions."""
        return {
            f"z{z}-{x}-{y}": tile
            for (z, x, y), tile in read_tiles(self.store.frame()).items()
        }

    @staticmethod
    def _ancestor_chain(z: int, x: int, y: int) -> list:
        anc = []
        while z > 0:
            z -= 1
            x >>= 1
            y >>= 1
            anc.append((z, x, y))
        return anc

    def _ancestor_lookup_df(self, anc: list):
        """Pruned registry lookup for an ancestor chain and its children
        (<= 24 x 5 keys): the shared key filter (lookup_frame) over the
        registry rows, no full-registry collect (plan-asserted in
        tests/test_plans.py)."""
        return lookup_frame(self.store.frame(), anc, [KIND_REGISTRY]).select(
            "z", "x", "y", "num_features", "num_points", "has_source"
        )

    def get_tile(self, z, x, y) -> Optional[list]:
        """Point lookup with lazy drill-down (tile-index.ts:82-120).

        A stored tile (or a registered empty one) is one Spark job: one
        pruned collect of its tile and registry rows (read_tiles). A miss
        adds one collect of the ancestor chain's registry rows, and when
        the nearest registered ancestor retained its source, one build in
        target mode from those rows, with the ancestor's registry counters
        as its start counts: for a task-sized ancestor that is a single
        subtree-kernel call whose output is a checkpoint. A
        has_source flag is proof that the source rows exist (invalidation
        drops every kind of row of a key together), so nothing probes them
        first."""
        z, x, y = int(z), int(x), int(y)
        if z < 0 or z > 24:  # geojsonvt.ts:82
            return None
        if self.cluster_index is not None:
            return self.cluster_index.get_tile(z, x, y)
        z2 = 1 << z
        x = (x + z2) & (z2 - 1)  # wrap x

        tf = self._fetch(z, x, y)
        if tf is not None:
            return tf

        # walk up to the nearest ancestor that retained source features.
        # The ancestor chain is <= 24 keys, so the lookup is one pruned
        # filter over the registry (isin on a packed key) — never a full
        # registry collect (at z14 full-earth the registry is ~10^8 rows).
        anc = self._ancestor_chain(z, x, y)
        # the same lookup finds the chain's children the store already
        # holds: the drill-down must not register them a second time
        kids = [
            (az + 1, ax * 2 + dx, ay * 2 + dy)
            for az, ax, ay in anc
            for dx in (0, 1)
            for dy in (0, 1)
        ]
        reg = {
            (r.z, r.x, r.y): r
            for r in self._ancestor_lookup_df(anc + kids).collect()
        }
        found = next((k for k in anc if k in reg), None)
        if found is None or not reg[found].has_source:
            return None

        src = lookup_frame(self.store.frame(), [found], [KIND_SOURCE]).select(
            *FEATURE_SCHEMA.names
        )
        # the build re-emits the start tile, which no longer keeps its
        # source once it splits (tile-index.ts:191): its new rows replace
        # the old ones, so the old ones go (a literal filter, no job)
        other_keys = tile_key_col() != F.lit(tile_key(*found))
        self.store.frames = [df.where(other_keys) for df in self.store.frames]
        build_pyramid(
            src,
            self.options,
            store=self.store,
            workdir=None,
            start=found,
            target=(z, x, y),
            registered=frozenset(reg) - {found},
            # a retained source is the tile's rows: its registry counters
            # are the build's start counts
            start_counts=(reg[found].num_features, reg[found].num_points),
        )
        if len(self.store.frames) > 24:
            self.store.compact()
        return self._fetch(z, x, y)

    # -- incremental maintenance (O22-O24, geojsonvt.ts:87-157) -------------

    def update_data(self, diff: Optional[dict] = None, filter=None) -> None:
        """Apply a source diff + optional predicate filter, invalidate the
        affected tiles, rebuild the root eagerly; deeper tiles regenerate
        lazily on get_tile (tile-index.ts:36-61).

        Jobs: the update's old-row collect (only for a diff with updates),
        the new source's checkpoint, the invalidation's compaction and the
        root rebuild (one subtree-kernel call for a task-sized source; the
        checkpoint's observed counts are its start counts). Whether
        anything was affected comes from the same checkpoint's row count:
        every row that left the source and every appended row is affected,
        so the diff was a no-op exactly when the count grew by twice the
        appended rows (apply_source_diff). No job probes the affected set."""
        if not self.options.updateable:
            raise ValueError(
                "to update tile geojson `updateable` option must be set to true"
            )
        from .updates import apply_source_diff, filter_update

        affected, source, self._batch, appended = apply_source_diff(
            self.spark, self.source_df, diff, self.options, self._batch
        )
        if filter is not None:
            affected, source = filter_update(source, affected, filter)
        source, counts = _counted_checkpoint(source)
        if counts[0] == self._source_counts[0] + 2 * appended:
            return  # nothing affected: the reference returns early too
        self.source_df, self._source_counts = source, counts

        if self.cluster_index is not None:
            # cluster mode: full rebuild (cluster-tile-index.ts:104-107)
            self.cluster_index = ClusterTileIndexSpark(
                self.spark, self.options.cluster_options
            ).initialize_df(self.source_df)
            return

        self._invalidate_tiles(affected)
        self._rebuild_root()

    def _invalidate_tiles(self, affected: DataFrame) -> None:
        """Interval/bbox join between affected-feature bboxes and buffered
        tile bounds -> delete intersecting tiles, every kind of row of a key
        together (tile-index.ts:235-305). The root is always rebuilt, so it
        is always invalidated here.

        The store is then compacted: one checkpoint materializes the
        anti-join, so no later tile read re-runs its broadcasts. That
        rewrites the store, O(store) per update, the same order as the
        reference's invalidation sweep over every tile. The invalidated
        keys never reach the driver as a list (under removeAll or filter=
        they can be the whole registry)."""
        k1 = self.options.buffer / self.options.extent  # NOT halved (:254)
        boxes = affected.select("minx", "miny", "maxx", "maxy")
        reg = self.store.registry_df()
        z2 = F.pow(F.lit(2.0), F.col("z").cast("double"))
        tminx = (F.col("x") - k1) / z2
        tmaxx = (F.col("x") + 1 + k1) / z2
        tminy = (F.col("y") - k1) / z2
        tmaxy = (F.col("y") + 1 + k1) / z2
        intersects = (
            (F.col("maxx") >= tminx)
            & (F.col("minx") < tmaxx)
            & (F.col("maxy") >= tminy)
            & (F.col("miny") < tmaxy)
        )
        # registry keys are unique, so the semi-join's keys are too
        inv = (
            reg.join(F.broadcast(boxes), intersects, "leftsemi")
            .select("z", "x", "y")
            .union(local_frame(self.spark, [(0, 0, 0)], "z int, x int, y int"))
        )
        self.store.frames = [
            df.join(F.broadcast(inv), ["z", "x", "y"], "left_anti")
            for df in self.store.frames
        ]
        self.store.compact()

    def _rebuild_root(self) -> None:
        # eager root regen with retained source (tile-index.ts:47-54); over
        # an empty source the build still emits the reference's (empty)
        # root tile
        build_pyramid(
            self.source_df,
            self.options,
            store=self.store,
            workdir=None,
            start=(0, 0, 0),
            target=(0, 0, 0),
            start_counts=self._source_counts,
        )

    def get_data(self) -> dict:
        """Source export as GeoJSON (O25; geojsonvt.ts:133-136).

        TEST SURFACE, NOT SERVING: collects the whole source to the driver
        (the reference API contract). Pipelines that need the corpus back
        out keep it distributed via deconvert.features_to_geojson over the
        sources DataFrame instead."""
        if not self.options.updateable:
            raise ValueError(
                "to retrieve data the `updateable` option must be set to true"
            )
        from ..functions.deconvert import features_to_geojson
        from ..model import row_to_feature

        rows = self.source_df.orderBy("okey").collect()
        return features_to_geojson([row_to_feature(r.asDict()) for r in rows])

    def update_cluster_options(self, cluster: bool, cluster_options) -> None:
        """Toggle/retune clustering, rebuilding from the stored source
        (geojsonvt.ts:142-157)."""
        if self.source_df is None:
            raise ValueError("updateClusterOptions requires the `updateable` option")
        if isinstance(cluster_options, dict):
            cluster_options = ClusterOptions(**cluster_options)
        self.options = self.options.with_(
            cluster=cluster, cluster_options=cluster_options
        )
        src = self.source_df if self._source_counts[0] else None
        if cluster:
            self.cluster_index = ClusterTileIndexSpark(
                self.spark, self.options.cluster_options
            )
            if src is not None:
                self.cluster_index.initialize_df(src)
            self.store = PyramidStore(self.spark)
        else:
            self.cluster_index = None
            self.store = (
                build_pyramid(src, self.options, workdir=None)
                if src is not None
                else PyramidStore(self.spark)
            )

    # -- cluster surfaces (geojsonvt.ts:160-183) ----------------------------

    def get_clusters(self, bbox, zoom):
        if self.cluster_index is None:
            return None
        return self.cluster_index.get_clusters(bbox, zoom)

    def get_cluster_expansion_zoom(self, cluster_id):
        if self.cluster_index is None:
            return None
        return self.cluster_index.get_cluster_expansion_zoom(cluster_id)

    def get_cluster_children(self, cluster_id):
        if self.cluster_index is None:
            return None
        return self.cluster_index.get_children(cluster_id)

    def get_cluster_leaves(self, cluster_id, limit=10, offset=0):
        if self.cluster_index is None:
            return None
        return self.cluster_index.get_leaves(cluster_id, limit, offset)

    def _fetch(self, z: int, x: int, y: int) -> Optional[list]:
        return read_tiles(self.store.frame(), [(z, x, y)]).get((z, x, y))
