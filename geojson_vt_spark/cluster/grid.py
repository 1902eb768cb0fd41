"""Distributed, order-free clustering — the scale path for O17.

The reference greedy pass is input-order-dependent and therefore sequential
(/root/reference/src/cluster-tile-index.ts:386-388). At 10^12 points that
algorithm cannot scale out, so the engine's scale mode re-expresses per-zoom
clustering as grid binning: snap rows to cells of side r = radius/(extent*2^z)
and merge each cell's rows into a weighted-centroid cluster when the cell
holds >= 2 rows totalling >= minPoints.

Properties vs the reference semantics (documented, invariant-tested):
  * every cluster's members lie within one cell (diameter r*sqrt(2) <= the
    reference's 2r merge reach) — clusters are *finer*, never coarser;
  * point counts are conserved per zoom; centroids are the exact weighted
    means of members; minPoints is respected;
  * ids keep the reference encoding (id - n) % 32 == origin zoom, with the
    packed cell index in place of the array position.

Execution shape (`_batched_levels`): cells nest across zooms, so
after ONE repartition by the batch's coarsest-zoom anchor cell a numpy
kernel (one mapInArrow crossing: Arrow batches in, record batches out, no
pandas) finishes every zoom of the batch partition-locally; the two-tier
`batch_plan` (k=4 levels for the raw-point head batch, k_tail=8 for the
cell-collapsed tail batches, each anchored at its own coarsest zoom) gives
1 + ceil((levels-k)/k_tail) serial barriers with per-anchor row counts
bounded at ~4^k_tail * min_points after the first batch — skew-safe on
dense-city corpora where a single coarse anchor would otherwise hold most
of the data. A corpus of at most `_ONE_TASK_MAX_POINTS` points skips the
plan: one kernel task runs every zoom over `coalesce(1)` of the points and
writes one checkpoint, with no anchor exchange (the pyramid's
`_SUBTREE_MAX_POINTS` rule: below the measured crossover an exchange costs
more than the task it splits). The tests hold a per-zoom pure-Column
reference (tests/grid_reference.py) that this engine is equality-tested
against on both routes.
Pass a workdir for parquet snapshots (resumable lineage, same contract as
plans/pyramid.py).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import ClusterOptions
from ..sources.table_format import snapshot

# Cells can be negative for antimeridian copies, and cx grows like
# extent*2^z/radius (~5.4e7 at extent=512, radius=40, z=22). The packed cell
# feeds cid = packed*32 + zoom + n_points (supercluster.js:153 id encoding),
# so packed must stay under 2^57 for the cid to fit a signed long: a 2^27
# offset with a 2^28 multiplier packs |cx|,|cy| < 2^27 (every max_zoom <= 23
# at default extent/radius) into < 2^56, leaving 5 bits for the zoom slot.
_CELL_OFF = 1 << 27

# batch_plan depths: the raw-point head batch spans _LEVEL_BATCH levels, the
# cell-collapsed tail batches _LEVEL_BATCH_TAIL levels each
_LEVEL_BATCH = 4
_LEVEL_BATCH_TAIL = 8
# the kernel buffers a whole anchor partition in executor memory
_MAX_PARTITION_ROWS = 100_000_000
# a corpus of at most this many points runs every zoom in ONE kernel task
# (no anchor exchange); 0 routes nothing. Measured at local[4] on a 4-vCPU
# host (z0-8, perfbench's clustered points): the one task wins on wall up
# to 600k points, the anchored plan from 800k (3.6 vs 3.7 s; 12 vs 51 s at
# 4M) — CHANGES.md has the table. Tests monkeypatch it
_ONE_TASK_MAX_POINTS = 600_000


def _packed_cell(cx, cy):
    return (cx + F.lit(_CELL_OFF)).cast("long") * F.lit(1 << 28) + (
        cy + F.lit(_CELL_OFF)
    ).cast("long")


def _validate_cell_range(options: ClusterOptions) -> None:
    max_cx = options.extent * (2.0 ** options.max_zoom) / options.radius
    if max_cx >= _CELL_OFF:
        raise ValueError(
            f"grid cluster cell ids overflow at max_zoom={options.max_zoom} "
            f"(extent={options.extent}, radius={options.radius}): |cx| can "
            f"reach {max_cx:.3g} >= 2^27; lower max_zoom or raise radius"
        )


def _widen(df: DataFrame, n_points: int) -> DataFrame:
    """Narrow level frame (x,y,src,parent,num,props) -> index.TREE_SCHEMA.

    Every dropped column is a pure function of the stored ones in grid mode,
    so reconstruction is lazy Column math over the checkpoint (no extra job):
      * pos/vrank: original points carry src=idx=pos; clusters carry
        src = packed*32 + (zorig + n_points) (supercluster.js:153 encoding),
        so packed = (src - n_points) >> 5 exactly (zorig < 32);
      * qx/qy are the JS-fround quantizations of x/y (f32∘f32 = f32);
      * props: reduce-folded JSON on cluster rows (batched kernel fold,
        reference cluster-tile-index.ts:416-437); point rows carry their raw
        tags in the narrow frame (the kernel's fold input) which is masked
        here — the TREE_SCHEMA contract is props only on clusters, singleton
        tags join in at query time.
    """
    f32 = lambda c: c.cast("float").cast("double")  # noqa: E731 — JS fround
    is_pt = F.col("src") < F.lit(n_points)
    pos = F.when(is_pt, F.col("src")).otherwise(
        F.shiftright(F.col("src") - F.lit(n_points), 5)
    )
    return df.select(
        pos.alias("pos"),
        pos.alias("vrank"),
        "x",
        "y",
        f32(F.col("x")).alias("qx"),
        f32(F.col("y")).alias("qy"),
        "src",
        "parent",
        "num",
        F.when(F.col("num") > 1, F.col("props")).alias("props"),
    )


def build_grid_trees(
    points_df: DataFrame,
    options: ClusterOptions,
    n_points: int,
    workdir: Optional[str] = None,
) -> dict[int, DataFrame]:
    """points_df: (idx long, px double, py double, id string, tags string) ->
    {zoom: tree DataFrame (index.TREE_SCHEMA columns)}.

    ``_batched_levels`` runs one exchange + one materialization per GROUP
    of levels (anchor-cell partitioning + a partition-local numpy kernel),
    cutting a per-zoom loop's serial shuffle count by the batch factor; at
    most `_ONE_TASK_MAX_POINTS` points run every level in one task with no
    exchange.

    It shuffles and checkpoints a NARROW frame — (x, y, src, parent, num,
    props) — about half the bytes of the full tree schema (props is NULL
    unless a reduce fold is configured); `_widen` reconstructs the derived
    columns lazily at the dict boundary. In a bandwidth-bound loop the byte
    cut is wall-clock and scaling, not cosmetics."""
    o = options
    _validate_cell_range(o)
    f32 = lambda c: c.cast("float").cast("double")  # noqa: E731 — JS fround

    # With a reduce fold, point rows carry their raw tags JSON into the
    # narrow frame (the kernel maps+folds them per merged cell); without one
    # the column is NULL and costs nothing on the shuffle wire.
    props0 = (
        F.col("tags") if o.reduce_fn is not None else F.lit(None).cast("string")
    )
    level = points_df.select(
        f32(F.col("px")).alias("x"),
        f32(F.col("py")).alias("y"),
        F.col("idx").alias("src"),
        F.lit(-1).cast("long").alias("parent"),
        F.lit(1).cast("long").alias("num"),
        props0.alias("props"),
    )
    # no eager materialization of the raw points: the first batch's own
    # checkpoint is the first barrier (its exchange re-shuffles the rows
    # anyway, and batch 1 overwrites trees[max_zoom+1] with the
    # parent-finalized frame). Callers hand in a deterministic/pinned
    # points_df (index.py localCheckpoints it), so lazy re-read is safe.
    trees = {o.max_zoom + 1: _widen(level, n_points)}
    if o.max_zoom >= o.min_zoom:
        _batched_levels(level, trees, o, n_points, workdir)
    return trees


_NARROW_COLS = ["x", "y", "src", "parent", "num", "props"]
_BATCH_ARROW = pa.schema([
    ("level", pa.int32()), ("fr", pa.bool_()), ("x", pa.float64()),
    ("y", pa.float64()), ("src", pa.int64()), ("parent", pa.int64()),
    ("num", pa.int64()), ("props", pa.string()),
])
_BATCH_SCHEMA = from_arrow_schema(_BATCH_ARROW)


def _make_level_kernel(levels: list, o: ClusterOptions, n_points: int):
    """Partition-local mapInArrow kernel running `levels` (descending zooms)
    of grid clustering over one anchor-partition's rows: the partition's
    Arrow batches are read as one table's numpy columns, and each finalized
    level plus the closing frontier is yielded as a RecordBatch.

    Safe because cells nest: floor(q/(2^m*r)) == floor(floor(q/r)/2^m), so
    every cell of every level in the batch lies inside one anchor cell at
    the batch's coarsest zoom, and a cluster's weighted centroid stays
    inside the cell it merged in — no cell ever spans two partitions. (An
    ulp-edge centroid can land on a cell boundary and split a cell into two
    finer clusters — within grid mode's documented 'finer, never coarser'
    contract.)

    Property map/reduce (reference cluster-tile-index.ts:416-437): when
    reduce_fn is set, each merged cell folds its members' mapped properties
    — point rows map their raw tags JSON (carried in `props`), cluster rows
    contribute their already-folded props. The fold touches only rows that
    merge this level (pure numpy otherwise). Grid mode is order-free, so
    the fold order within a cell is unspecified: reduce must be commutative
    and associative — the same algebraic contract that makes any
    distributed fold (and this engine's 'finer, never coarser' clustering)
    well-defined. The reference folds in kdbush visit order instead; for
    non-commutative reduces only exact mode reproduces it."""
    radius, extent, min_points = o.radius, o.extent, o.min_points
    map_fn, reduce_fn = o.map_fn, o.reduce_fn

    def rows(level, fr, x, y, src, parent, num, props):
        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(x.size, level, np.int32)),
             pa.array(np.full(x.size, fr)), pa.array(x), pa.array(y),
             pa.array(src), pa.array(parent), pa.array(num),
             pa.array(props, pa.string())],
            schema=_BATCH_ARROW,
        )

    def kern(it):
        batches = list(it)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        if t.num_rows > _MAX_PARTITION_ROWS:
            raise RuntimeError(
                f"grid-cluster anchor partition holds {t.num_rows} rows "
                f"(> {_MAX_PARTITION_ROWS}); the batched kernel buffers whole "
                "partitions and hash repartitioning cannot split one hot "
                "anchor cell; cluster this corpus with method='exact'"
            )
        x, y, src, parent, num = (
            t.column(c).to_numpy() for c in ("x", "y", "src", "parent", "num")
        )
        # object column, None for nulls (the fold's input)
        props = t.column("props").to_numpy()

        def _mapped(k):
            import json

            if num[k] > 1:  # cluster: already-folded props (fresh dict)
                return None if props[k] is None else json.loads(props[k])
            raw = None if props[k] is None else json.loads(props[k])
            return map_fn(raw) if map_fn is not None else raw

        for z in levels:
            r = radius / (extent * (2.0 ** z))
            # identical float math to the Column path: fround then bin
            cx = np.floor(x.astype(np.float32).astype(np.float64) / r)
            cy = np.floor(y.astype(np.float32).astype(np.float64) / r)
            key = (cx.astype(np.int64) + _CELL_OFF) * np.int64(1 << 28) + (
                cy.astype(np.int64) + _CELL_OFF
            )
            uniq, inv, counts = np.unique(
                key, return_inverse=True, return_counts=True
            )
            cell_num = np.bincount(inv, weights=num.astype(np.float64)).astype(
                np.int64
            )
            merged_cell = (counts > 1) & (cell_num >= min_points)
            row_merged = merged_cell[inv]
            cid_cell = uniq * np.int64(32) + np.int64(z + 1 + n_points)
            # finalized level z+1: parent filled in for rows that merge
            # (yielded piecewise — no whole-output concat copy)
            yield rows(
                z + 1, False, x, y, src,
                np.where(row_merged, cid_cell[inv], parent), num, props,
            )
            # next frontier: pass-through rows + new weighted-centroid clusters
            m = merged_cell
            n_new = int(m.sum())
            cprops = np.full(n_new, None, dtype=object)
            if reduce_fn is not None and n_new:
                import json

                order = np.argsort(inv, kind="stable")
                groups = np.split(order, np.cumsum(counts)[:-1])
                for out_i, ci in enumerate(np.flatnonzero(m)):
                    acc = None
                    for k in groups[ci]:
                        mv = _mapped(k)
                        if acc is None:
                            # clone before folding in place (the reference
                            # clones the first mapped value the same way)
                            acc = dict(mv) if isinstance(mv, dict) else mv
                        else:
                            reduce_fn(acc, mv)
                    cprops[out_i] = None if acc is None else json.dumps(acc)
            wx = np.bincount(inv, weights=x * num)[m] / cell_num[m]
            wy = np.bincount(inv, weights=y * num)[m] / cell_num[m]
            keep = ~row_merged
            x = np.concatenate([x[keep], wx])
            y = np.concatenate([y[keep], wy])
            src = np.concatenate([src[keep], cid_cell[m]])
            parent = np.concatenate(
                [parent[keep], np.full(n_new, -1, np.int64)]
            )
            num = np.concatenate([num[keep], cell_num[m]])
            props = np.concatenate([props[keep], cprops])
        yield rows(levels[-1], True, x, y, src, parent, num, props)

    return kern


def _batched_levels(
    frontier: DataFrame,
    trees: dict[int, DataFrame],
    o: ClusterOptions,
    n_points: int,
    workdir: Optional[str],
) -> None:
    """Batched engine: ONE anchor-cell exchange + ONE materialization per
    level batch (two-tier plan: k-level head, k_tail-level tail batches,
    see `batch_plan`) instead of per zoom — the serial barrier count is
    what a bandwidth-bound 100 TB loop actually pays for.

    Skew stays bounded without AQE help: a partition's work is linear in its
    rows; batch 1 anchors only k-1 levels below max_zoom (dense corpora
    still span many anchors there), and every later batch's per-anchor row
    count is capped at ~4^k_tail * min_points by the previous batch's
    frontier collapse (see batch_plan).

    A task-sized corpus (n_points <= _ONE_TASK_MAX_POINTS) skips the plan:
    every zoom is one batch over `coalesce(1)` of the frame, one kernel
    task and one checkpoint, no exchange — the same routing rule as the
    pyramid's `_SUBTREE_MAX_POINTS`."""
    if n_points <= _ONE_TASK_MAX_POINTS:
        zs = list(range(o.max_zoom, o.min_zoom - 1, -1))
        _run_batches(frontier, trees, o, n_points, workdir, [zs], anchored=False)
        return
    parts = int(
        frontier.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    _run_batches(frontier, trees, o, n_points, workdir, batch_plan(o, parts))


def batch_plan(o: ClusterOptions, shuffle_partitions: int) -> list:
    """Group the zoom levels (descending) into GEOMETRIC exchange batches:
    fixed chunks of k levels, each batch anchored (by `_run_batches`) at its
    OWN coarsest zoom.

    Why not one deep batch anchored at a coarse z_floor (the round-2 plan):
    a single z_floor anchor cell is ~10^2 km wide at default options, so a
    dense-city corpus lands most raw points in ONE anchor partition and one
    task then runs every level of the batch over most of the data — hash
    partitioning by anchor key cannot split that hot cell. The two-tier
    plan bounds skew structurally instead:

    * batch 1 spans k = _LEVEL_BATCH (4) levels, anchoring at max_zoom-k+1 —
      fine enough that even a dense city spans many anchor cells (the
      data-heavy top of the pyramid keeps its parallelism). Only this batch
      ever sees RAW points, so only its depth is skew-sensitive;
    * every later batch's incoming frontier is already collapsed to at most
      ~min_points rows per cell of the PREVIOUS batch's coarsest zoom, so a
      tail batch spanning d levels holds at most ~4^d * min_points rows per
      anchor NO MATTER how skewed the corpus is — the bound is the cell
      nesting itself, not a data property. That lets tail batches run
      deeper: k_tail = _LEVEL_BATCH_TAIL (8) levels each (≤ 4^8*min_points
      ≈ 1.3e5 rows per anchor at min_points=2, still a sub-second
      partition-local numpy workload).

    Barriers: 1 + ceil((levels-k)/k_tail) — 3 at the default z16 pyramid
    (vs 2 for the skew-unsafe round-2 plan and 5 for uniform k=4 chunks);
    all barriers after the first shuffle a collapsed (cell-bounded)
    frontier, so added wall-clock is per-barrier fixed cost, not volume.

    The plan applies above `_ONE_TASK_MAX_POINTS` only: a task-sized
    corpus runs all of `zs` as one unanchored batch (`_batched_levels`).
    """
    zs = list(range(o.max_zoom, o.min_zoom - 1, -1))
    head, tail = zs[:_LEVEL_BATCH], zs[_LEVEL_BATCH:]
    return [head] + [
        tail[i : i + _LEVEL_BATCH_TAIL]
        for i in range(0, len(tail), _LEVEL_BATCH_TAIL)
    ]


def _run_batches(
    frontier: DataFrame,
    trees: dict[int, DataFrame],
    o: ClusterOptions,
    n_points: int,
    workdir: Optional[str],
    batches: list,
    anchored: bool = True,
) -> None:
    """Run each batch's kernel over the frontier hash-partitioned by its
    anchor cell at the batch's coarsest zoom, or over one coalesced task
    when not `anchored`; checkpoint its output and slice the trees."""
    f32 = lambda c: c.cast("float").cast("double")  # noqa: E731 — JS fround
    for batch in batches:
        z_hi, z_lo = batch[0], batch[-1]
        if anchored:
            r_lo = o.radius / (o.extent * (2.0 ** z_lo))
            part = (
                frontier.withColumn("acx", F.floor(f32(F.col("x")) / F.lit(r_lo)))
                .withColumn("acy", F.floor(f32(F.col("y")) / F.lit(r_lo)))
                .repartition("acx", "acy")
                .drop("acx", "acy")
            )
        else:
            part = frontier.coalesce(1)
        out = part.mapInArrow(_make_level_kernel(batch, o, n_points), _BATCH_SCHEMA)
        out = snapshot(
            out, workdir, f"ctree/zb={z_hi:02d}-{z_lo:02d}", resume=True
        )
        for z in batch:
            trees[z + 1] = _widen(
                out.filter((F.col("level") == z + 1) & (~F.col("fr"))).select(
                    *_NARROW_COLS
                ),
                n_points,
            )
        frontier = out.filter(F.col("fr")).select(*_NARROW_COLS)
        trees[z_lo] = _widen(frontier, n_points)
