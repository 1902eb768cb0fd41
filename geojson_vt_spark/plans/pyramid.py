"""Top-down tile pyramid build (O12) as an iterative per-zoom DataFrame plan.

Reference semantics: /root/reference/src/tile-index.ts:138-228 (splitTile BFS:
create tile -> stop-rule check -> 4-way buffered quadrant clip -> recurse) and
:82-120 (getTile drill-down with ancestor pruning).

Spark-first design (NOT a translation of the single-threaded BFS):

  * one loop iteration per zoom level; the per-tile stack becomes a *frontier*
    DataFrame of (z, x, y, feature) rows;
  * the stop rule (z == indexMaxZoom or numPoints <= indexMaxPoints,
    tile-index.ts:177-179) needs only per-tile counts + vertex sums — and
    numPoints == SUM(rlens), so the decision stats are a pure-JVM
    partial-aggregated groupBy over the frontier: the decision costs NO
    Python crossing;
  * tile assembly (O13+O14) and the 4-way buffered quadrant clip run FUSED
    in one whole-batch mapInArrow kernel per level (_level_fn): a single
    Arrow crossing of the frontier emits both the level's tile rows and the
    next frontier. Kernels are flat-numpy over the entire batch
    (functions/flat.py) — no per-vertex or per-feature Python;
  * every crossing is Arrow in, Arrow out: the kernels read the list
    columns' offset/value buffers straight into a Flat (flat_from_arrow),
    keep okey/id/tags as Arrow arrays, and build their output record
    batches against the kind-tagged store layout (model.STORE_SCHEMA,
    _store_batch) — no pandas conversion on either side;
  * counters stay SUM aggregates over per-feature rows, so no tile ever has
    to fit in one task (a z0 tile over the full corpus stays distributed);
  * one routing rule skips per-level passes: at every driver-mode level, a
    tile that holds rows and at most _SUBTREE_MAX_POINTS vertices goes to
    the subtree kernel (_subtree_fn, one applyInArrow group per tile),
    whether the stop rule splits it or stops it. The kernel finishes the
    tile's whole sub-pyramid, root included, as an in-kernel level-BFS and
    writes the registry and retained-source rows of every tile it stops
    (a stopped root is a one-level sub-pyramid). The level pass sees only
    the rows of tiles too big for a task and does not run when none remain.
    So a small corpus is the rule applied at z0 (one kernel call, zero
    per-level crossings), and the engine's root rebuild and every
    drill-down from a task-sized ancestor are one kernel call whose output
    is a checkpoint: a tile read after them never re-plans a lazy
    registry aggregate or a cached sources branch. Distributed clipping
    while single tiles hold huge data, per-subtree parallelism afterwards;
  * Arrow-stage parallelism defaults to defaultParallelism/4 (task-cpus
    accounting for JVM serde + Python worker + numpy threads; see
    arrow_parts in build_pyramid);
  * each level's kernel outputs (level pass and subtree kernel) are two
    branches of one union, written as ONE snapshot by one job
    (sources/table_format.snapshot: parquet or Iceberg under `workdir`, else
    localCheckpoint); the union's tasks share the slots, so the two kernels
    still overlap. Per-partition lineage: a killed job resumes at the first
    missing level without recomputing finished zooms;
  * empty child tiles are registered from the split-decision table (the
    reference pushes all 4 children even when a quadrant clip is empty,
    tile-index.ts:223-226) — no data rows needed;
  * drill-down (getTile miss) is the same loop in target mode: stop at
    z == cz/maxZoom, split only ancestors of the target (tile-index.ts:184-187
    -> partition-pruning-style filter on the frontier).
"""

from __future__ import annotations

import functools
import json
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import Options
from ..functions.feature import LINESTRING
from ..functions.flat import (
    AXIS_X,
    AXIS_Y,
    assemble_flat,
    clip_flat,
    concat_flats,
    flat_from_arrow,
    flat_to_cells_arrow,
    list_parts,
    take,
    tile_geometry_json,
)
from ..model import FEATURE_SCHEMA, REGISTRY_SCHEMA, STORE_SCHEMA, TILE_FEATURE_SCHEMA
from ..model import KIND_FRONTIER, KIND_REGISTRY, KIND_SOURCE, KIND_TILE
from ..model import kind_rows, local_frame, num_points_col, store_rows, tile_key
from ..model import tile_key_col
from ..sources.table_format import snapshot
from .balance import balanced_gid_mapping
from ..functions.tile import GEOJSONVT_CLIP_END, GEOJSONVT_CLIP_START, js_div

# broadcast-join the per-level split decision back onto the frontier only while
# the tile list is comfortably below the driver/executor broadcast limit
_BROADCAST_TILE_LIMIT = 200_000

# subtree routing: a tile whose vertex count fits one task's budget has its
# whole sub-pyramid (just its own rows when it stops) finished inside a single
# applyInArrow group (no further per-level jobs for that subtree). The
# per-level loop keeps running only for tiles too big for a task. 0 routes
# nothing (the pure level loop).
_SUBTREE_MAX_POINTS = 200_000

# every kernel output batch is built against the store layout (model.py)
_STORE_ARROW = to_arrow_schema(STORE_SCHEMA)


def _stop_rule(z, x, y, num_points, options: Options, target) -> bool:
    """tile-index.ts:177-188: index cutoff, or drill-down target/ancestor
    pruning."""
    if target is None:
        return z == min(options.index_max_zoom, options.max_zoom) or (
            num_points <= options.index_max_points
        )
    cz, cx, cy = target
    steps = cz - z
    is_anc = z == cz or (
        x == (cx >> steps if steps > 0 else cx)
        and y == (cy >> steps if steps > 0 else cy)
    )
    return z == options.max_zoom or z == cz or not is_anc


def _read_state(batch):
    """FEATURE_SCHEMA Arrow batch -> kernel state (Flat, z, x, y, okey, id,
    tags): geometry as flat numpy buffers, okey/id/tags kept as Arrow
    arrays."""
    def ints(name):
        return batch.column(name).to_numpy().astype(np.int64)

    return (
        flat_from_arrow(batch), ints("z"), ints("x"), ints("y"),
        batch.column("okey"), batch.column("id"), batch.column("tags"),
    )


def _take_state(state, idx):
    """Sub-state of the selected features, in the given order."""
    fl, z, x, y, okeys, ids, tags = state
    ia = pa.array(idx, pa.int64())
    return (take(fl, idx), z[idx], x[idx], y[idx],
            okeys.take(ia), ids.take(ia), tags.take(ia))


def _concat_states(states):
    return (
        concat_flats([s[0] for s in states]),
        *(np.concatenate([s[i] for s in states]) for i in (1, 2, 3)),
        *(pa.concat_arrays([s[i] for s in states]) for i in (4, 5, 6)),
    )


def _span_idx(spans):
    """Row indices of a list of (start, end) row ranges."""
    return np.concatenate([np.arange(s, e, dtype=np.int64) for s, e in spans])


def _store_batch(n: int, kind: int, **cols) -> pa.RecordBatch:
    """n STORE_SCHEMA rows of one kind; absent columns are all-null."""
    cols["kind"] = np.full(n, kind, np.int32)
    out = []
    for f in _STORE_ARROW:
        v = cols.get(f.name)
        if v is None:
            out.append(pa.nulls(n, f.type))
        elif isinstance(v, pa.Array):
            out.append(v if v.type == f.type else v.cast(f.type))
        else:
            out.append(pa.array(v, f.type))
    return pa.RecordBatch.from_arrays(out, schema=_STORE_ARROW)


def _feature_rows(state, kind: int) -> pa.RecordBatch:
    """FEATURE_SCHEMA rows of a state: kind=0 next-frontier children,
    kind=2 retained sources."""
    fl, z, x, y, okeys, ids, tags = state
    return _store_batch(
        fl.n_features, kind, z=z, x=x, y=y, okey=okeys, id=ids, tags=tags,
        **flat_to_cells_arrow(fl),
    )


def _tile_rows(state, options: Options):
    """Batched assembly -> (kind=1 batch with one row per input feature,
    npoints, nsimplified). tf_* are null where the feature simplifies
    away; npoints/nsimplified are always set (registry counters)."""
    fl, z, x, y, okeys, ids, tags = state
    nfe = fl.n_features
    npts, nsimp, emit = assemble_flat(fl, z, options)
    geoms = {} if emit is None else tile_geometry_json(
        emit, z, x.astype(np.float64), y.astype(np.float64), options.extent
    )
    gi = np.fromiter(geoms, np.int64, len(geoms))
    slot = np.full(nfe, -1, np.int64)  # feature -> its geometry's slot
    slot[gi] = np.arange(len(gi))
    dropped = slot < 0
    own = pa.array(np.arange(nfe), pa.int64(), mask=dropped)
    tf_tags = tags.take(own)
    if options.line_metrics:
        lines = gi[fl.ftype[gi] == LINESTRING]
        if lines.size:
            vals = tf_tags.to_pylist()
            for i in lines:
                tg = {} if vals[i] is None else json.loads(vals[i])
                r0 = fl.foff[i]
                tg[GEOJSONVT_CLIP_START] = js_div(
                    float(fl.rstart[r0]), float(fl.rsize[r0])
                )
                tg[GEOJSONVT_CLIP_END] = js_div(
                    float(fl.rend[r0]), float(fl.rsize[r0])
                )
                vals[i] = json.dumps(tg)
            tf_tags = pa.array(vals, pa.string())
    rows = _store_batch(
        nfe, KIND_TILE, z=z, x=x, y=y, okey=okeys,
        tf_type=pa.array(
            np.zeros(nfe, np.int32) if emit is None else emit["f_tile_type"],
            pa.int32(), mask=dropped,
        ),
        tf_id=ids.take(own),
        tf_tags=tf_tags,
        tf_geom=pa.array(list(geoms.values()), pa.string()).take(
            pa.array(slot, pa.int64(), mask=dropped)
        ),
        npoints=npts, nsimplified=nsimp,
        minx=fl.minx, miny=fl.miny, maxx=fl.maxx, maxy=fl.maxy,
    )
    return rows, npts, nsimp


def _split_children(state, options: Options) -> list:
    """Batched 4-way buffered quadrant clip (tile-index.ts:198-219).

    Returns per-quadrant child states — x bands first then y, okey extended
    with (x-slice, y-slice) on its offset and value buffers."""
    fl, z, x, y, okeys, ids, tags = state
    k1 = 0.5 * options.buffer / options.extent
    k2 = 0.5 - k1
    k3 = 0.5 + k1
    k4 = 1 + k1
    lm = options.line_metrics
    z2 = np.exp2(z.astype(np.float64))
    out = []
    for qx in (0, 1):
        if qx == 0:
            sx, ex = (x - k1) / z2, (x + k3) / z2
        else:
            sx, ex = (x + k2) / z2, (x + k4) / z2
        flx, srcx, jx = clip_flat(fl, sx, ex, AXIS_X, lm)
        if flx.n_features == 0:
            continue
        ysrc = y[srcx]
        z2x = z2[srcx]
        for qy in (0, 1):
            if qy == 0:
                sy, ey = (ysrc - k1) / z2x, (ysrc + k3) / z2x
            else:
                sy, ey = (ysrc + k2) / z2x, (ysrc + k4) / z2x
            fly, srcy, jy = clip_flat(flx, sy, ey, AXIS_Y, lm)
            if fly.n_features == 0:
                continue
            src0 = srcx[srcy]
            ia = pa.array(src0, pa.int64())
            # okey append on the buffers: old values scattered to their
            # shifted slots (+2 per preceding row), slice suffixes in bulk
            off, old = list_parts(okeys.take(ia))
            n_out = len(src0)
            new_off = off + 2 * np.arange(n_out + 1, dtype=np.int64)
            flat = np.empty(int(new_off[-1]), np.int64)
            flat[
                np.arange(old.size, dtype=np.int64)
                + np.repeat(2 * np.arange(n_out, dtype=np.int64), np.diff(off))
            ] = old
            flat[new_off[1:] - 2] = jx[srcy]
            flat[new_off[1:] - 1] = jy
            out.append((
                fly,
                z[src0] + 1,
                x[src0] * 2 + qx,
                y[src0] * 2 + qy,
                pa.ListArray.from_arrays(
                    pa.array(new_off, pa.int32()), pa.array(flat),
                    type=okeys.type,
                ),
                ids.take(ia),
                tags.take(ia),
            ))
    return out


def _level_fn(options: Options):
    """FUSED per-level mapInArrow kernel: one Arrow crossing does both tile
    assembly and the 4-way split. Input: FEATURE rows of the tiles not
    routed to the subtree kernel, plus a `do_split` boolean (the driver's
    stop-rule decision, computed JVM-side from SUM(rlens) before this kernel
    runs). Output: store-layout record batches — kind=1 assembled tile-feature
    rows for EVERY input feature (tf_* null when the feature simplifies
    away; npoints/nsimplified always set, they feed the registry aggregate),
    and kind=0 child-feature rows for the splitting tiles (the next
    frontier).

    Versus separate assemble + split kernels this halves the frontier's
    Arrow transfers per level — the dominant cost once the kernels are
    vectorized."""

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            state = _read_state(batch)
            yield _tile_rows(state, options)[0]
            sidx = np.flatnonzero(
                batch.column("do_split").to_numpy(zero_copy_only=False)
            )
            if not sidx.size:
                continue
            for bundle in _split_children(_take_state(state, sidx), options):
                yield _feature_rows(bundle, KIND_FRONTIER)

    return fn


def _subtree_fn(options: Options, target):
    """applyInArrow kernel (table in, table out): all feature rows of ONE
    routed splitting tile -> the tile's entire sub-pyramid, root included
    (reference splitTile semantics, tile-index.ts:138-228), processed as a
    batched BFS: each subtree level assembles + 4-way-clips EVERY tile of
    the level at once with the flat-array kernels (functions/flat.py) — no
    per-vertex Python. The root goes through the same assemble/registry/
    stop path as every deeper level, so the kernel writes its registry row
    (and retained-source rows for every stopped tile) itself."""

    def fn(table: pa.Table) -> pa.Table:
        okey = table.column("okey").to_pylist()
        order = sorted(range(table.num_rows), key=okey.__getitem__)
        state = _read_state(
            table.take(pa.array(order, pa.int64())).combine_chunks()
            .to_batches()[0]
        )
        expected = [(int(state[1][0]), int(state[2][0]), int(state[3][0]))]
        out: list = []  # emitted store-layout record batches

        while True:
            nfe = state[0].n_features

            # ---- group this level's features by tile ----
            pres = {}
            if nfe:
                key = state[2] * (1 << 26) + state[3]
                perm = np.argsort(key, kind="stable")
                state = _take_state(state, perm)
                z, x, y = state[1:4]
                bd = np.flatnonzero(np.diff(key[perm])) + 1
                tstart = np.concatenate(([0], bd))
                tend = np.concatenate((bd, [nfe]))
                pres = {
                    (int(z[s]), int(x[s]), int(y[s])): (int(s), int(e))
                    for s, e in zip(tstart, tend)
                }

            # ---- batched assembly + kind=1 tile-feature emission ----
            rows, npts, nsimp = _tile_rows(state, options)
            rows = rows.filter(pc.is_valid(rows.column("tf_geom")))
            if rows.num_rows:
                out.append(rows)

            # ---- per-tile stop rule + kind=3 registry (all expected
            # children, empty ones included — tile-index.ts:223-226) ----
            npc = np.concatenate(([0], np.cumsum(npts)))
            nsc = np.concatenate(([0], np.cumsum(nsimp)))
            reg = []
            split_ranges = []
            split_keys = []
            stop_ranges = []
            for kz, kx, ky in expected:
                se = pres.get((kz, kx, ky))
                if se is None:
                    nf, tp, ts = 0, 0, 0
                else:
                    s, e = se
                    nf = e - s
                    tp = int(npc[e] - npc[s])
                    ts = int(nsc[e] - nsc[s])
                stopped = _stop_rule(kz, kx, ky, tp, options, target)
                reg.append((kz, kx, ky, nf, tp, ts, stopped and nf > 0))
                if stopped:
                    if nf:
                        stop_ranges.append(se)
                elif nf:  # empty tiles never split (tile-index.ts:193)
                    split_ranges.append(se)
                    split_keys.append((kz, kx, ky))
            c = list(zip(*reg))
            out.append(_store_batch(
                len(reg), KIND_REGISTRY, z=c[0], x=c[1], y=c[2],
                num_features=c[3], num_points=c[4],
                num_simplified=c[5], has_source=c[6],
                okey=pa.ListArray.from_arrays(
                    pa.array(np.zeros(len(reg) + 1, np.int32)),
                    pa.array([], pa.int64()),
                ),
            ))

            # ---- kind=2 retained-source rows for stopped tiles ----
            if stop_ranges:
                out.append(_feature_rows(
                    _take_state(state, _span_idx(stop_ranges)), KIND_SOURCE
                ))

            if not split_keys:
                break

            # ---- batched 4-way split of every splitting tile at once ----
            bundles = _split_children(
                _take_state(state, _span_idx(split_ranges)), options
            )
            expected = [
                (kz + 1, kx * 2 + dx, ky * 2 + dy)
                for kz, kx, ky in split_keys
                for dx in (0, 1)
                for dy in (0, 1)
            ]
            state = (
                _concat_states(bundles) if bundles
                else _take_state(state, np.empty(0, np.int64))
            )

        return pa.Table.from_batches(out, schema=_STORE_ARROW)

    return fn


class PyramidStore:
    """Accumulated pyramid state: one list of kind-tagged STORE_SCHEMA frames
    holding tile features (kind 1), retained sources (kind 2, the drill-down
    frontier, tile-index.ts:174) and registry rows (kind 3). Each build call
    appends one frame; the three tables are kind projections of the union."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.frames: list[DataFrame] = []
        # always empty: head fusion is gone; kept for readers of the field
        self.head_fused: list = []
        # one-shot audit: True when a first pass routed the z0 root and the
        # root split, so the whole pyramid ran as a single subtree-kernel
        # call (small corpora)
        self.one_shot: bool = False
        # the routing decisions of the latest build_pyramid call on this
        # store: {"start", "target", "one_shot", "levels": [{"z", "routed",
        # "level_pass", "split"}, ...]}, one entry per level the loop ran.
        # routed = tiles sent to the subtree kernel; level_pass = tiles with
        # rows left to the level pass (None where the level decided
        # distributed and only split is counted); split = level-pass tiles
        # that split
        self.decisions: dict = {}

    # read-only aliases of `frames` for readers of the old three lists
    # (perfbench); drop them with head_fused at the next benchmark change
    tiles = registry = sources = property(lambda self: self.frames)

    def frame(self) -> DataFrame:
        """The whole store as one STORE_SCHEMA frame."""
        if not self.frames:
            return local_frame(self.spark, [], STORE_SCHEMA)
        return functools.reduce(DataFrame.union, self.frames)

    def tiles_df(self) -> DataFrame:
        return kind_rows(self.frame(), KIND_TILE, TILE_FEATURE_SCHEMA)

    def registry_df(self) -> DataFrame:
        return kind_rows(self.frame(), KIND_REGISTRY, REGISTRY_SCHEMA)

    def sources_df(self) -> DataFrame:
        return kind_rows(self.frame(), KIND_SOURCE, FEATURE_SCHEMA)

    def compact(self) -> None:
        """Fold the frame list into one materialized frame.

        Incremental updates and repeated drill-downs append (and anti-join)
        frames; left unchecked the union plan grows linearly with the number
        of operations and every tile lookup re-plans it. Compacting is the
        Iceberg-snapshot analog: one localCheckpoint, after which lookups
        scan a single cached relation."""
        self.frames = [self.frame().localCheckpoint(eager=True)]


def build_pyramid(
    features_df: DataFrame,
    options: Options,
    store: Optional[PyramidStore] = None,
    workdir: Optional[str] = None,
    resume: bool = False,
    start: tuple = (0, 0, 0),
    target: Optional[tuple] = None,
    registered: frozenset = frozenset(),
    start_counts: Optional[tuple] = None,
) -> PyramidStore:
    """Run the per-zoom split loop.

    features_df: FEATURE_SCHEMA rows already assigned to the `start` tile.
    target: (cz, cx, cy) for drill-down mode (getTile miss), else None for the
            first-pass indexing run, which appends nothing to the store when
            features_df holds no rows.
    registered: tile keys the store already holds (drill-down re-entry:
            siblings an earlier drill-down registered that an update left
            valid). The reference keeps an existing tile (splitTile creates
            one only `if (!tile)`), so this call's rows for them are
            dropped — level pass and subtree kernel alike.
    start_counts: (num_features, num_points) of features_df when the caller
            already knows them (the engine: its source checkpoint's observed
            counts, or a drill-down ancestor's registry row). The first
            level then runs no counter job, and without a workdir
            features_df, which such a caller hands over as a checkpoint or
            a filter over one, is not checkpointed again: a start tile the
            kernel takes is read once.
    """
    spark = features_df.sparkSession
    if store is None:
        store = PyramidStore(spark)

    z0, _, _ = start
    cz = cx = cy = None
    if target is not None:
        cz, cx, cy = target

    frontier = features_df
    expected: Optional[DataFrame] = None  # child keys owed a registry entry
    expected_keys: Optional[list] = [start]  # driver mode; None once too large
    z = z0
    decisions = store.decisions = {
        "start": tuple(start), "target": target, "one_shot": False, "levels": [],
    }

    # Arrow-stage parallelism: each Python-stage task occupies ~2-4 native
    # threads (JVM Arrow serde + the Python worker + numpy), the
    # `spark.task.cpus`-style accounting a cluster deployment expresses with
    # a ResourceProfile. Defaulting these stages to parallelism/4 partitions
    # keeps the host from oversubscribing — and stays below the concurrent
    # Arrow-stream count that trips this sandbox's virtualized guest kernel
    # (45-75% system time at ~32 streams; real executors run 4-8 streams).
    _par = spark.sparkContext.defaultParallelism
    arrow_parts = _par if _par <= 8 else max(8, _par // 4)

    feat_cols = FEATURE_SCHEMA.names

    already_rdd = False
    if workdir is None:
        # callers that hand us an eagerly-materialized frontier (bench, the
        # engine, which also knows its start counts) gain nothing from a
        # second localCheckpoint pass — skip it
        try:
            already_rdd = start_counts is not None or (
                frontier._jdf.queryExecution()
                .optimizedPlan()
                .toString()
                .startswith("LogicalRDD")
            )
        except Exception:  # noqa: BLE001 — conservative: checkpoint
            already_rdd = False
    if not already_rdd:
        frontier = snapshot(frontier, workdir, f"frontier/z={z0:02d}", resume)

    # this call's kind-tagged store rows; the store gets their union
    parts: list[DataFrame] = []

    while True:
        # this level's kernel outputs: branches of one union, one snapshot
        branches: list[DataFrame] = []
        routed: list = []
        sources: Optional[DataFrame] = None
        run_level = True
        # ---- decision stats: pure-JVM counters over the frontier (no
        # Python crossing; the stop rule needs only counts + vertex sums) ----
        stats = frontier.groupBy("z", "x", "y").agg(
            F.count(F.lit(1)).alias("num_features"),
            F.sum(num_points_col()).alias("num_points"),
        )

        driver_mode = expected_keys is not None and len(expected_keys) <= _BROADCAST_TILE_LIMIT

        if driver_mode:
            # ---- driver-side decision path: the per-level tile-count is
            # bounded (<= 4 x previous splits), so the split/stop decision
            # table fits the driver; one job per level instead of four.
            # Tile DATA stays distributed; only per-tile counters come back.
            if z == z0 and start_counts is not None:
                got = {start: start_counts} if start_counts[0] else {}
            else:
                got = {
                    (r.z, r.x, r.y): (r.num_features, r.num_points)
                    for r in stats.collect()
                }
            if not got and target is None and z == z0:
                # empty input: no root tile, like the reference, which
                # skips splitTile when there are no features
                return store
            skel_rows = []
            split_list: list = []
            stop_list: list = []  # stopped tiles that hold rows
            for key in expected_keys:
                nf, npts = got.get(key, (0, 0))
                stopped = _stop_rule(*key, npts, options, target)
                if 0 < npts <= _SUBTREE_MAX_POINTS:
                    # task-sized tile: the subtree kernel owns its whole
                    # sub-pyramid, root registry and source rows included
                    routed.append(key)
                    if z == z0 and target is None and not stopped:
                        decisions["one_shot"] = store.one_shot = True
                    continue
                if not stopped and nf > 0:
                    split_list.append(key)
                elif nf > 0:
                    stop_list.append(key)
                skel_rows.append(
                    (key[0], key[1], key[2], nf, npts, bool(stopped and nf > 0))
                )
            skel = local_frame(
                spark,
                skel_rows,
                "z int, x int, y int, num_features long, num_points long, has_source boolean",
            )

            # ---- one broadcast map of the level's tiles: split tiles carry
            # do_split, routed tiles their subtree group id. Explicit skew
            # handling (the north rule's "salting for hot tiles"): hash
            # placement of whole-subtree groups is a lottery, so the driver
            # LPT-packs the routed tiles by vertex count into near-equal bins
            # and mints gids whose Murmur3 hash pins each bin to its own
            # partition (plans/balance.py); repartition on the gid satisfies
            # the groupBy's distribution, so it is the ONLY shuffle.
            sub_parts = max(arrow_parts, min(len(routed), arrow_parts * 4))
            gids = balanced_gid_mapping(
                routed, [got[k][1] for k in routed], sub_parts
            )
            flags = local_frame(
                spark,
                [(*k, True, None) for k in split_list]
                + [(*k, None, gids[k]) for k in routed],
                "z int, x int, y int, do_split boolean, gid long",
            )
            tagged = frontier.join(F.broadcast(flags), ["z", "x", "y"], "left")
            level_in = tagged.where(F.col("gid").isNull()).drop("gid")
            run_level = bool(split_list or stop_list)
            if stop_list:
                sources = frontier.join(
                    F.broadcast(local_frame(spark, stop_list, "z int, x int, y int")),
                    ["z", "x", "y"], "leftsemi",
                ).cache()  # lazy — materialized only if a drill-down reads it

            if len(routed) == 1:
                # a lone group reads the checkpointed frontier through a
                # narrow filter + coalesce(1): no exchange before its task
                (rz, rx, ry), = routed
                sub_in = frontier.where(
                    (F.col("z") == rz) & (F.col("x") == rx) & (F.col("y") == ry)
                ).withColumn("gid", F.lit(gids[routed[0]])).coalesce(1)
            elif routed:
                sub_in = tagged.where(F.col("gid").isNotNull()).repartition(
                    sub_parts, "gid"
                )
            if routed:
                branches.append(sub_in.groupBy("gid").applyInArrow(
                    _subtree_fn(options, target), STORE_SCHEMA
                ))
            n_split = len(split_list)
            decisions["levels"].append({
                "z": z, "routed": len(routed),
                "level_pass": len(split_list) + len(stop_list), "split": n_split,
            })
            decision = None
        else:
            # ---- distributed decision path (web-scale levels) ----
            if expected is None and expected_keys is not None:
                # first level after leaving driver mode: the child-key list
                # outgrew the broadcast limit but still owes registry entries
                # for empty children (tile-index.ts:223-226) — seed `expected`
                # from it before dropping the driver-side list.
                expected = local_frame(spark, expected_keys, "z long, x long, y long")
                expected_keys = None
            if expected is not None:
                stats = (
                    expected.join(stats, ["z", "x", "y"], "left")
                    .fillna(0, ["num_features", "num_points"])
                )
            if target is None:
                stop = (
                    F.col("z") == F.lit(min(options.index_max_zoom, options.max_zoom))
                ) | (F.col("num_points") <= F.lit(options.index_max_points))
            else:
                steps = cz - z
                is_anc = (
                    (F.lit(z) == F.lit(cz))
                    | ((F.col("x") == F.lit(cx >> steps if steps > 0 else cx))
                       & (F.col("y") == F.lit(cy >> steps if steps > 0 else cy)))
                )
                stop = (
                    (F.lit(z) == F.lit(options.max_zoom))
                    | (F.lit(z) == F.lit(cz))
                    | (~is_anc)
                )
            decision = stats.withColumn(
                "split", (~stop) & (F.col("num_features") > 0)
            ).withColumn("stopped", stop)
            decision = decision.cache()
            skel = decision.select(
                "z",
                "x",
                "y",
                "num_features",
                "num_points",
                (F.col("stopped") & (F.col("num_features") > 0)).alias("has_source"),
            )
            split_keys = decision.filter("split").select("z", "x", "y")
            n_split = split_keys.count()
            decisions["levels"].append(
                {"z": z, "routed": 0, "level_pass": None, "split": n_split}
            )
            stop_keys = decision.filter("stopped").select("z", "x", "y")
            if n_split < _BROADCAST_TILE_LIMIT:
                stop_keys = F.broadcast(stop_keys)
            sources = frontier.join(stop_keys, ["z", "x", "y"], "leftsemi")
            sources = snapshot(sources, workdir, f"sources/z={z:02d}", resume)
            flag_keys = split_keys.withColumn("do_split", F.lit(True))
            if n_split < _BROADCAST_TILE_LIMIT:
                flag_keys = F.broadcast(flag_keys)
            level_in = frontier.join(flag_keys, ["z", "x", "y"], "left")

        if run_level:
            # ---- fused assemble+split: ONE Arrow crossing per level ----
            branches.append(level_in.fillna(False, ["do_split"]).coalesce(
                arrow_parts
            ).mapInArrow(_level_fn(options), STORE_SCHEMA))
        if branches:
            # ONE job writes the level: the union's tasks share the slots, so
            # the subtree kernel and the level pass still run side by side
            unified = snapshot(
                functools.reduce(DataFrame.union, branches),
                workdir, f"unified/z={z:02d}", resume,
            )
            # the store keeps the kernels' rows of kinds 1-3; kind-0 rows are
            # the next frontier, and a level-pass tile row whose feature
            # simplified away (null tf_type) only feeds the registry counter
            kind = F.col("kind")
            parts.append(unified.where(
                (kind != KIND_FRONTIER)
                & ((kind != KIND_TILE) | F.col("tf_type").isNotNull())
            ))
        if run_level:
            # registry: driver/decision skeleton (num_features, num_points,
            # has_source) + per-tile num_simplified from the assembled rows —
            # a small lazy join, materialized only when the registry is read.
            # Subtree tiles are absent from `skel`, so the left join drops
            # their rows from the aggregate
            nsimp_agg = unified.filter(F.col("kind") == KIND_TILE).groupBy(
                "z", "x", "y"
            ).agg(F.sum("nsimplified").alias("num_simplified"))
            parts.append(store_rows(
                skel.join(nsimp_agg, ["z", "x", "y"], "left")
                .fillna(0, ["num_simplified"]),
                KIND_REGISTRY,
            ))
        elif skel_rows:
            # only empty tiles left beside the routed ones: registry rows
            # straight from the driver skeleton
            parts.append(store_rows(
                skel.withColumn("num_simplified", F.lit(0)), KIND_REGISTRY
            ))
        # source retained only where we stopped (tile-index.ts:174,191)
        if sources is not None:
            parts.append(store_rows(sources, KIND_SOURCE))

        if n_split == 0:
            if decision is not None:
                decision.unpersist()
            break

        frontier = unified.filter(F.col("kind") == KIND_FRONTIER).select(*feat_cols)

        # all 4 children of every split tile get a tile entry, even if empty
        # (tile-index.ts:223-226)
        if driver_mode:
            expected_keys = [
                (kz + 1, kx * 2 + dx, ky * 2 + dy)
                for kz, kx, ky in split_list
                for dx in (0, 1)
                for dy in (0, 1)
            ]
            expected = None
        else:
            expected_keys = None
            expected = (
                split_keys.select(
                    (F.col("z") + 1).alias("z"),
                    F.explode(
                        F.array(
                            F.struct((F.col("x") * 2).alias("cx"), (F.col("y") * 2).alias("cy")),
                            F.struct((F.col("x") * 2).alias("cx"), (F.col("y") * 2 + 1).alias("cy")),
                            F.struct((F.col("x") * 2 + 1).alias("cx"), (F.col("y") * 2).alias("cy")),
                            F.struct(
                                (F.col("x") * 2 + 1).alias("cx"), (F.col("y") * 2 + 1).alias("cy")
                            ),
                        )
                    ).alias("c"),
                )
                .select("z", F.col("c.cx").alias("x"), F.col("c.cy").alias("y"))
            )
            expected = snapshot(expected, workdir, f"expected/z={z + 1:02d}", resume)
        if decision is not None:
            decision.unpersist()
        z += 1

    built = functools.reduce(DataFrame.union, parts)
    if registered:
        # a literal predicate (<= 24 x 5 keys): filtering in place keeps the
        # appended frame a checkpoint scan, with no broadcast for every later
        # tile read to re-run
        built = built.where(
            ~tile_key_col().isin([tile_key(*k) for k in sorted(registered)])
        )
    store.frames.append(built)
    return store
