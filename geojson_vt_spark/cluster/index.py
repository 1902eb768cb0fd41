"""ClusterTileIndexSpark — Supercluster surface (O17-O21) on DataFrames.

Reference: /root/reference/src/cluster-tile-index.ts. Two build methods:

* ``method='exact'`` — byte-parity with the reference greedy algorithm
  (which is input-order-dependent by design, cluster-tile-index.ts:386-388,
  i.e. inherently sequential). The per-zoom pass runs in cluster/kernel.py on
  gathered arrays; every *query* surface (getTile, getClusters, children)
  is still a DataFrame: per-zoom trees are materialized as DataFrames whose
  ``vrank`` column (kdbush visit order, see cluster/kdbush.py) replaces tree
  traversal — queries are range predicates + ORDER BY vrank, so tile serving
  scales out even though index build is single-node (like the reference).

* ``method='grid'`` — the 100 TB path (cluster/grid.py): order-free
  grid-binned clustering, one partial-agg shuffle per zoom, no Python in the
  per-zoom loop. Same tree schema, same query surfaces; validated against
  exact mode by invariants (point-count conservation, centroid containment)
  rather than byte equality.

Cluster id encoding (cluster-tile-index.ts:415,461-468):
    id = (origin_pos << 5) + (origin_zoom) + num_input_points
    origin_zoom = (id - n) % 32;  origin_pos = (id - n) >> 5
"""

from __future__ import annotations

import json
import math
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..config import ClusterOptions
from ..functions.projection import project_x, project_y, unproject_x, unproject_y
from ..model import local_frame
from .kernel import Level, cluster_pass, initial_level

TREE_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.LongType(), False),
        T.StructField("vrank", T.LongType(), False),
        T.StructField("x", T.DoubleType(), False),  # flat-data f64 coords
        T.StructField("y", T.DoubleType(), False),
        T.StructField("qx", T.DoubleType(), False),  # f32-rounded tree coords
        T.StructField("qy", T.DoubleType(), False),
        T.StructField("src", T.LongType(), False),  # point idx | cluster id
        T.StructField("parent", T.LongType(), False),
        T.StructField("num", T.LongType(), False),
        T.StructField("props", T.StringType(), True),  # reduce-folded JSON
    ]
)

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.LongType(), False),
        T.StructField("px", T.DoubleType(), False),  # projected, NOT f32-rounded
        T.StructField("py", T.DoubleType(), False),
        T.StructField("id", T.StringType(), True),  # JSON-encoded
        T.StructField("tags", T.StringType(), True),  # JSON dict or null
    ]
)


def _round_js(v: float) -> int:
    # JS Math.round: half toward +inf (Math.round(-0.5) === 0)
    return int(math.floor(v + 0.5))


def count_abbrev(count: int):
    """point_count_abbreviated (cluster-tile-index.ts:502-506)."""
    if count >= 10000:
        return f"{_round_js(count / 1000)}k"
    if count >= 1000:
        v = _round_js(count / 100) / 10
        return f"{int(v)}k" if v == int(v) else f"{v}k"
    return count


class ClusterTileIndexSpark:
    def __init__(
        self,
        spark: SparkSession,
        options: Optional[ClusterOptions] = None,
        method: str = "exact",
    ):
        self.spark = spark
        self.options = options or ClusterOptions()
        if method not in ("exact", "grid"):
            raise ValueError("method must be 'exact' or 'grid'")
        self.method = method
        self.n_points = 0
        self._points_tags: list = []
        self._points: list = []  # dicts: idx, px, py, id, tags
        self._levels: dict[int, Level] = {}
        self._tree_dfs: dict[int, DataFrame] = {}
        self._grid_trees: dict[int, DataFrame] = {}
        self._points_df: Optional[DataFrame] = None

    # ---- build -----------------------------------------------------------

    def load(self, features: list) -> "ClusterTileIndexSpark":
        """GeoJSON point features -> index (cluster-tile-index.ts:58-80)."""
        pts = []
        for f in features:
            geom = f.get("geometry")
            if not geom:
                continue
            lng, lat = geom["coordinates"][:2]
            pts.append(
                {
                    "id": f.get("id"),
                    "tags": f.get("properties"),
                    "px": project_x(lng),
                    "py": project_y(lat),
                }
            )
        return self._create_index(pts)

    def initialize(self, features: list) -> "ClusterTileIndexSpark":
        """Internal features (already projected/wrapped) -> index, points only
        (cluster-tile-index.ts:88-97)."""
        pts = []
        for f in features:
            if f["type"] != 1:  # Point
                continue
            ring = f["rings"][0]["pts"]
            pts.append(
                {"id": f["id"], "tags": f["tags"], "px": float(ring[0]), "py": float(ring[1])}
            )
        return self._create_index(pts)

    def initialize_df(self, features_df: DataFrame) -> "ClusterTileIndexSpark":
        """Feature rows (model.FEATURE_SCHEMA) -> index. Exact mode gathers
        (the reference algorithm is sequential); grid mode stays distributed."""
        pts_df = (
            features_df.filter(F.col("ftype") == 1)
            .select(
                F.col("okey"),
                F.col("id"),
                F.col("tags"),
                F.element_at("coords", 1).alias("px"),
                F.element_at("coords", 2).alias("py"),
            )
            .orderBy("okey")
        )
        if self.method == "grid":
            from .grid import build_grid_trees

            pts = pts_df.select(
                F.monotonically_increasing_id().alias("idx"), "px", "py", "id", "tags"
            )
            # monotonically_increasing_id is nondeterministic across
            # recomputation (AQE replans, executor loss): pin the idx values
            # once so the trees' `src` and later src==idx joins agree.
            pts = pts.localCheckpoint(eager=True)
            self._points_df = pts
            self.n_points = pts.count()
            self._grid_trees = build_grid_trees(pts, self.options, self.n_points)
            return self
        rows = pts_df.collect()
        return self._create_index(
            [
                {
                    "id": None if r.id is None else json.loads(r.id),
                    "tags": None if r.tags is None else json.loads(r.tags),
                    "px": r.px,
                    "py": r.py,
                }
                for r in rows
            ]
        )

    def _create_index(self, pts: list) -> "ClusterTileIndexSpark":
        o = self.options
        self.n_points = len(pts)
        self._points = [
            {"idx": i, "px": p["px"], "py": p["py"], "id": p["id"], "tags": p["tags"]}
            for i, p in enumerate(pts)
        ]
        self._points_tags = [p["tags"] for p in pts]
        px = np.array([p["px"] for p in pts], dtype=np.float64)
        py = np.array([p["py"] for p in pts], dtype=np.float64)

        level = initial_level(px, py)
        self._levels[o.max_zoom + 1] = level
        for z in range(o.max_zoom, o.min_zoom - 1, -1):
            level = cluster_pass(
                level,
                z,
                o.radius,
                o.extent,
                o.min_points,
                self.n_points,
                o.node_size,
                self._points_tags,
                o.map_fn,
                o.reduce_fn,
            )
            self._levels[z] = level
        return self

    # ---- DataFrame materialization --------------------------------------

    def points_df(self) -> DataFrame:
        if self._points_df is None:
            rows = [
                (
                    p["idx"],
                    p["px"],
                    p["py"],
                    None if p["id"] is None else json.dumps(p["id"]),
                    None if p["tags"] is None else json.dumps(p["tags"]),
                )
                for p in self._points
            ]
            self._points_df = local_frame(self.spark, rows, POINTS_SCHEMA)
        return self._points_df

    def tree_df(self, z: int) -> Optional[DataFrame]:
        if self.method == "grid":
            return self._grid_trees.get(z)
        if z in self._tree_dfs:
            return self._tree_dfs[z]
        level = self._levels.get(z)
        if level is None:
            return None
        vrank = level.ensure_vrank(self.options.node_size)
        rows = [
            (
                int(i),
                int(vrank[i]),
                float(level.x[i]),
                float(level.y[i]),
                float(level.qx[i]),
                float(level.qy[i]),
                int(level.src[i]),
                int(level.parent[i]),
                int(level.num[i]),
                None if level.props[i] is None else json.dumps(level.props[i]),
            )
            for i in range(len(level))
        ]
        df = local_frame(self.spark, rows, TREE_SCHEMA).cache()
        self._tree_dfs[z] = df
        return df

    # ---- queries (DataFrame ops + driver formatting) --------------------

    def _limit_zoom(self, z: float) -> int:
        o = self.options
        return max(o.min_zoom, min(int(math.floor(z)), o.max_zoom + 1))

    def _join_points(self, tree_f: DataFrame) -> DataFrame:
        """Attach singleton point data (px/py/id/tags) to filtered tree rows.

        The filter makes the tree side SMALL, so that is what gets broadcast:
        first a broadcast semi-join prunes the (potentially 10^9-row) points
        table down to the singletons inside the window, then the pruned
        points — now window-sized — are the broadcast build side of the left
        join. The full points table is never broadcast (plan-asserted in
        tests/test_plans.py)."""
        pts = self.points_df()
        needed = tree_f.filter(F.col("num") == 1).select(
            F.col("src").alias("_want_idx")
        )
        pts_window = pts.join(
            F.broadcast(needed), F.col("idx") == F.col("_want_idx"), "leftsemi"
        )
        return tree_f.join(
            F.broadcast(pts_window),
            (F.col("src") == F.col("idx")) & (F.col("num") == 1),
            "left",
        )

    def _tree_rows_df(self, z: int, pred):
        """Range-query plan: predicate pushdown + ORDER BY vrank + point join."""
        tree = self.tree_df(z)
        if tree is None:
            return None
        # src tiebreak: exact-mode vranks are a permutation (unique), but
        # grid-mode cluster vranks are packed cells from DIFFERENT zoom
        # grids and can collide numerically — keep the order deterministic
        return self._join_points(tree.filter(pred)).orderBy("vrank", "src")

    def _tree_rows(self, z: int, pred) -> list:
        out = self._tree_rows_df(z, pred)
        return [] if out is None else out.collect()

    def _cluster_tags(self, row) -> dict:
        base = {} if row.props is None else json.loads(row.props)
        base.update(
            {
                "cluster": True,
                "cluster_id": row.src,
                "point_count": row.num,
                "point_count_abbreviated": count_abbrev(row.num),
            }
        )
        return base

    def get_tile(self, z: int, x: int, y: int) -> Optional[list]:
        """Cluster tile emit (cluster-tile-index.ts:248-284,331-372)."""
        zl = self._limit_zoom(z)
        if (self.method == "exact" and zl not in self._levels) or (
            self.method == "grid" and zl not in self._grid_trees
        ):
            return None
        o = self.options
        z2 = 2 ** z
        p = o.radius / o.extent
        top = (y - p) / z2
        bottom = (y + 1 + p) / z2

        def rng(lo, hi):
            return (
                (F.col("qx") >= lo)
                & (F.col("qx") <= hi)
                & (F.col("qy") >= top)
                & (F.col("qy") <= bottom)
            )

        queries = [((x - p) / z2, (x + 1 + p) / z2, x)]
        if x == 0:
            queries.append((1 - p / z2, 1.0, z2))
        if x == z2 - 1:
            queries.append((0.0, p / z2, -1))

        features = []
        for lo, hi, xs in queries:
            for row in self._tree_rows(zl, rng(lo, hi)):
                is_cluster = row.num > 1
                if is_cluster:
                    tags = self._cluster_tags(row)
                    px, py = row.x, row.y
                else:
                    tags = None if row.tags is None else json.loads(row.tags)
                    px, py = row.px, row.py  # original, NOT f32-rounded
                f = {
                    "type": 1,
                    "geometry": [
                        [
                            _round_js(o.extent * (px * z2 - xs)),
                            _round_js(o.extent * (py * z2 - y)),
                        ]
                    ],
                    "tags": tags,
                }
                if is_cluster or o.generate_id:
                    f["id"] = row.src
                elif row.id is not None:
                    f["id"] = json.loads(row.id)
                features.append(f)
        return features

    def get_clusters(self, bbox: list, zoom: float) -> list:
        """Bbox query (cluster-tile-index.ts:163-192) with lon normalization
        and dateline split."""
        min_lng = ((bbox[0] + 180) % 360 + 360) % 360 - 180
        min_lat = max(-90.0, min(90.0, bbox[1]))
        max_lng = 180.0 if bbox[2] == 180 else ((bbox[2] + 180) % 360 + 360) % 360 - 180
        max_lat = max(-90.0, min(90.0, bbox[3]))

        if bbox[2] - bbox[0] >= 360:
            min_lng, max_lng = -180.0, 180.0
        elif min_lng > max_lng:
            east = self.get_clusters([min_lng, min_lat, 180, max_lat], zoom)
            west = self.get_clusters([-180, min_lat, max_lng, max_lat], zoom)
            return east + west

        zl = self._limit_zoom(zoom)
        pred = (
            (F.col("qx") >= project_x(min_lng))
            & (F.col("qx") <= project_x(max_lng))
            & (F.col("qy") >= project_y(max_lat))
            & (F.col("qy") <= project_y(min_lat))
        )
        out = []
        for row in self._tree_rows(zl, pred):
            out.append(self._row_to_geojson(row))
        return out

    def _row_to_geojson(self, row) -> dict:
        if row.num > 1:
            return {
                "type": "Feature",
                "id": row.src,
                "properties": self._cluster_tags(row),
                "geometry": {
                    "type": "Point",
                    "coordinates": [unproject_x(row.x), unproject_y(row.y)],
                },
            }
        f = {
            "type": "Feature",
            "properties": None if row.tags is None else json.loads(row.tags),
            "geometry": {
                "type": "Point",
                "coordinates": [unproject_x(row.px), unproject_y(row.py)],
            },
        }
        if row.id is not None:
            f["id"] = json.loads(row.id)
        return f

    # ---- drill-down (cluster-tile-index.ts:198-240,294-320) -------------

    def _origin_zoom(self, cluster_id: int) -> int:
        return (cluster_id - self.n_points) % 32

    def _origin_pos(self, cluster_id: int) -> int:
        return (cluster_id - self.n_points) >> 5

    def get_children(self, cluster_id: int) -> list:
        err = ValueError(f"No cluster with the specified id: {cluster_id}")
        oz = self._origin_zoom(cluster_id)
        opos = self._origin_pos(cluster_id)
        tree = self.tree_df(oz)
        if tree is None:
            raise err
        rows = self._tree_rows(oz, F.col("parent") == cluster_id)
        if not rows:
            raise err
        return [self._row_to_geojson(r) for r in rows]

    def get_leaves(self, cluster_id: int, limit: int = 10, offset: int = 0) -> list:
        """Paginated leaves in reference DFS order (cluster-tile-index.ts:
        294-320) as a level-synchronous window query — ONE Spark job round
        per visited origin zoom, not one per visited cluster node.

        DFS order (children sorted by vrank, recursing in order) assigns
        every leaf a global start index: start(child) = start(parent) +
        sum(num) over earlier siblings — a per-parent window cumsum over the
        materialized vrank column. A subtree is expanded only when its
        [start, start+num) range overlaps [offset, offset+limit), which is
        exactly the reference's point_count skip, so the per-zoom frontier
        stays O(limit) and the final sort-by-start reproduces leaf order.
        Child origin zooms are strictly greater than their parent's, so
        processing zooms in ascending order visits each tree at most once."""
        limit = limit or 10
        offset = offset or 0
        lo, hi = offset, offset + limit
        err = ValueError(f"No cluster with the specified id: {cluster_id}")
        frontier: dict[int, dict[int, int]] = {
            self._origin_zoom(cluster_id): {cluster_id: 0}
        }
        leaves: list = []
        first = True
        while frontier:
            z = min(frontier)
            group = frontier.pop(z)
            tree = self.tree_df(z)
            if tree is None:
                if first:
                    raise err
                break
            ids = list(group)
            start_of = F.create_map(
                *[F.lit(v) for cid in ids for v in (cid, group[cid])]
            )
            w = (
                Window.partitionBy("parent")
                .orderBy("vrank", "src")  # src: grid-mode vrank tie-break
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            rows_df = (
                tree.filter(F.col("parent").isin(ids))
                .withColumn(
                    "start",
                    start_of[F.col("parent")]
                    + F.coalesce(F.sum("num").over(w), F.lit(0)),
                )
                .filter((F.col("start") < hi) & (F.col("start") + F.col("num") > lo))
            )
            rows = self._join_points(rows_df).collect()
            if first:
                # a valid cluster id whose whole subtree is outside the
                # window returns [], but an UNKNOWN id must raise like the
                # reference — probe existence only in that ambiguous case
                if not rows and tree.filter(
                    F.col("parent") == cluster_id
                ).limit(1).count() == 0:
                    raise err
                first = False
            for r in rows:
                if r.num > 1:
                    frontier.setdefault(self._origin_zoom(r.src), {})[r.src] = r.start
                elif lo <= r.start < hi:
                    leaves.append((r.start, self._row_to_geojson(r)))
        leaves.sort(key=lambda t: t[0])
        return [g for _, g in leaves]

    def get_cluster_expansion_zoom(self, cluster_id: int) -> int:
        return self._origin_zoom(cluster_id)
