"""Per-zoom pure-Column grid clustering: the reference the batched engine in
`geojson_vt_spark.cluster.grid` is equality-tested against.

One hash exchange + one checkpoint per zoom, no Python kernel — slower than
the batched engine, but every step is a plain DataFrame aggregate whose
semantics can be read off the plan. It has no map/reduce property fold.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from geojson_vt_spark.cluster.grid import (
    _NARROW_COLS,
    _packed_cell,
    _validate_cell_range,
    _widen,
)
from geojson_vt_spark.config import ClusterOptions
from geojson_vt_spark.sources.table_format import snapshot


def _f32(c):
    return c.cast("float").cast("double")  # JS fround


def build_column_trees(
    points_df: DataFrame,
    options: ClusterOptions,
    n_points: int,
    workdir: Optional[str] = None,
) -> dict[int, DataFrame]:
    """Same contract as `build_grid_trees` (no reduce fold)."""
    o = options
    assert o.reduce_fn is None, "the Column reference has no property fold"
    _validate_cell_range(o)
    level = points_df.select(
        _f32(F.col("px")).alias("x"),
        _f32(F.col("py")).alias("y"),
        F.col("idx").alias("src"),
        F.lit(-1).cast("long").alias("parent"),
        F.lit(1).cast("long").alias("num"),
        F.lit(None).cast("string").alias("props"),
    )
    frontier = snapshot(
        level, workdir, f"ctree/z={o.max_zoom + 1:02d}", resume=True
    )
    trees = {o.max_zoom + 1: _widen(frontier, n_points)}
    column_levels(frontier, trees, o, n_points, workdir)
    return trees


def column_levels(
    frontier: DataFrame,
    trees: dict[int, DataFrame],
    o: ClusterOptions,
    n_points: int,
    workdir: Optional[str],
) -> None:
    """Per-level Column-only engine: one exchange + one checkpoint per zoom."""
    for z in range(o.max_zoom, o.min_zoom - 1, -1):
        r = o.radius / (o.extent * (2.0 ** z))
        # bin on the JS-fround quantization of the row coordinate (qx in the
        # wide schema) — the batched kernel's float math
        binned = frontier.withColumn(
            "cx", F.floor(_f32(F.col("x")) / F.lit(r))
        ).withColumn("cy", F.floor(_f32(F.col("y")) / F.lit(r)))
        # hash-place rows by cell once; the cell aggregate and the
        # cells->rows join are then co-partitioned
        binned = binned.repartition("cx", "cy")
        cells = binned.groupBy("cx", "cy").agg(
            F.count(F.lit(1)).alias("cell_rows"),
            F.sum("num").alias("cell_num"),
            (F.sum(F.col("x") * F.col("num")) / F.sum("num")).alias("wx"),
            (F.sum(F.col("y") * F.col("num")) / F.sum("num")).alias("wy"),
        )
        merged = (F.col("cell_rows") > 1) & (F.col("cell_num") >= F.lit(o.min_points))
        cid = _packed_cell(F.col("cx"), F.col("cy")) * F.lit(32) + F.lit(
            z + 1 + n_points
        )
        cells = cells.select(
            "cx", "cy", merged.alias("merged"), cid.alias("cid"), "cell_num", "wx", "wy"
        )
        joined = binned.join(cells, ["cx", "cy"], "left")

        # one materialization per level carries all three products — the
        # parent-pointer update of level z+1, the pass-through rows, and the
        # new cluster rows — discriminated by `rk`
        rows_part = joined.select(
            "x",
            "y",
            "src",
            F.when(F.col("merged"), F.col("cid")).otherwise(F.col("parent")).alias(
                "parent"
            ),
            "num",
            "props",
            F.coalesce(F.col("merged"), F.lit(False)).alias("merged"),
            F.lit(0).alias("rk"),
        )
        clusters_part = cells.filter("merged").select(
            F.col("wx").alias("x"),
            F.col("wy").alias("y"),
            F.col("cid").alias("src"),
            F.lit(-1).cast("long").alias("parent"),
            F.col("cell_num").alias("num"),
            F.lit(None).cast("string").alias("props"),
            F.lit(True).alias("merged"),
            F.lit(1).alias("rk"),
        )
        combined = snapshot(
            rows_part.unionByName(clusters_part), workdir, f"ctree/z={z:02d}",
            resume=True,
        )
        # level z+1 with parent pointers filled in (children drill-down)
        trees[z + 1] = _widen(
            combined.filter(F.col("rk") == 0).select(*_NARROW_COLS), n_points
        )
        # level z frontier: non-merged rows keep their original parent + the
        # new cluster rows
        frontier = combined.filter(
            (F.col("rk") == 1) | (~F.col("merged"))
        ).select(*_NARROW_COLS)
        trees[z] = _widen(frontier, n_points)
