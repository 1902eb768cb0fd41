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
    batches against the one UNIFIED_SCHEMA Arrow schema (_unified_batch) —
    no pandas conversion on either side;
  * counters stay SUM aggregates over per-feature rows, so no tile ever has
    to fit in one task (a z0 tile over the full corpus stays distributed);
  * the subtree phase routes task-sized splitting tiles (vertex count under
    _SUBTREE_MAX_POINTS) to a one-shot applyInArrow kernel that finishes
    the whole sub-pyramid as an in-kernel level-BFS — distributed clipping
    while single tiles hold huge data, per-subtree parallelism afterwards;
  * Arrow-stage parallelism defaults to defaultParallelism/4 (task-cpus
    accounting for JVM serde + Python worker + numpy threads; see
    arrow_parts in build_pyramid);
  * each level is checkpointed (parquet or Iceberg via
    sources/table_format.py under `workdir`, else localCheckpoint)
    -> per-partition lineage: a killed job resumes at the first missing level
    without recomputing finished zooms;
  * empty child tiles are registered from the split-decision table (the
    reference pushes all 4 children even when a quadrant clip is empty,
    tile-index.ts:223-226) — no data rows needed;
  * drill-down (getTile miss) is the same loop in target mode: stop at
    z == cz/maxZoom, split only ancestors of the target (tile-index.ts:184-187
    -> partition-pruning-style filter on the frontier).
"""

from __future__ import annotations

import json
import sys
import time
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
from ..model import FEATURE_SCHEMA, TILE_FEATURE_SCHEMA
from .balance import balanced_gid_mapping
from ..functions.tile import GEOJSONVT_CLIP_END, GEOJSONVT_CLIP_START, js_div

# broadcast-join the per-level split decision back onto the frontier only while
# the tile list is comfortably below the driver/executor broadcast limit
_BROADCAST_TILE_LIMIT = 200_000

# carried per-tile decision stats (same fields the stats.collect Rows expose)
from collections import namedtuple  # noqa: E402

_StatRow = namedtuple("_StatRow", ["num_features", "num_points"])

# subtree phase: once a splitting tile's vertex count fits one task, its whole
# sub-pyramid is finished inside a single applyInArrow group (no further
# per-level jobs/shuffles for that subtree). The per-level BFS keeps running
# only for tiles too big for a task — exactly the two-phase shape a large
# cluster wants: distributed clipping while single tiles hold huge data,
# per-subtree parallelism as soon as fan-out provides it.
# The cap is sized so routing waits one extra level when tiles are chunky:
# many smaller groups hash-balance far better across the Arrow-stage
# partitions than few large ones (64 groups over 8 partitions leaves ~2x
# straggler skew; 256+ groups average it out).
_SUBTREE_MAX_POINTS = 32_000
_SUBTREE_MIN_TILES = 48

# head fusion: max extra levels one Arrow crossing may force-split when the
# JVM lower-bound proof (_head_fuse_depth) allows it. 0 disables.
_HEAD_FUSE_MAX = 3

# Small-corpus one-shot gate: when the root tile's total vertex count is at
# most this, the whole pyramid runs as ONE subtree-kernel call (zero
# per-level crossings — the per-level fixed Spark overhead is 18-27x the
# reference's wall-clock at the 10k bench point, BASELINE.md crossover
# table). Bounded by construction: the one task does at most this many
# points; bigger corpora take the distributed level loop. 0 disables.
_ONE_SHOT_MAX_POINTS = 200_000


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


def _unified_batch(n: int, kind: int, **cols) -> pa.RecordBatch:
    """n UNIFIED_SCHEMA rows of one kind; absent columns are all-null."""
    cols["kind"] = np.full(n, kind, np.int32)
    out = []
    for f in _UNIFIED_ARROW:
        v = cols.get(f.name)
        if v is None:
            out.append(pa.nulls(n, f.type))
        elif isinstance(v, pa.Array):
            out.append(v if v.type == f.type else v.cast(f.type))
        else:
            out.append(pa.array(v, f.type))
    return pa.RecordBatch.from_arrays(out, schema=_UNIFIED_ARROW)


def _feature_rows(state, kind: int) -> pa.RecordBatch:
    """FEATURE_SCHEMA rows of a state: kind=0 next-frontier children,
    kind=2 retained sources."""
    fl, z, x, y, okeys, ids, tags = state
    return _unified_batch(
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
    rows = _unified_batch(
        nfe, 1, z=z, x=x, y=y, okey=okeys,
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


def _head_fuse_depth(frontier, z: int, options: Options, max_extra: int) -> int:
    """How many consecutive levels below z may be FORCE-SPLIT in one fused
    Arrow crossing (head fusion). Returns E: for every level j in
    z+1..z+E, EVERY tile that can possibly be non-empty after clipping is
    GUARANTEED to split by the stop rule, so the kernel may recurse those
    levels in-task without consulting per-level stats — saving one
    full-corpus Arrow round trip per fused level.

    The guarantee is a JVM-side lower bound, no Python crossing: a vertex
    of tile A's frontier copy that lies strictly inside A's own UNBUFFERED
    core survives every clip on the path to any descendant tile whose core
    contains it (clip windows nest and only add buffer), so the per-tile
    count of own-core frontier vertices is a lower bound of the tile's
    eventual num_points. The own-core filter (floor(v * 2^z) == the row's
    own tile key) is what makes the bound sound with a plain count:
      * buffer-strip vertices duplicated across sibling copies are counted
        for exactly one copy — the one whose core they sit in — matching
        the single subtree they actually descend through;
      * vertices INSERTED by ancestor clips sit on clip-window edges,
        outside their own copy's core, and are dropped;
      * out-of-world vertices never satisfy the floor equality.
    A level is safe iff every tile whose BUFFERED window intersects any
    feature bbox (the superset of possibly-non-empty tiles) has lower bound
    > index_max_points. One vertex-binning aggregate at the deepest
    candidate level is reused for every coarser level via bit shifts.

    Cost: ONE Spark job. All candidate levels are checked together — the
    binned counts explode to every level's tile key by bit shift, the
    per-level candidate sets union with a level column, and a single
    groupBy(level).min(lower_bound) collect answers every level at once
    (the round-3 shape ran a join + isEmpty action PER level, which made
    the proof cost ~3 serial jobs and dominate the small-corpus build —
    6.2 s of a 12 s pyramid at the 10k bench point).

    If the bound ever proved unsound the driver would raise (guarantee
    recheck against the exact fused stats in build_pyramid) instead of
    producing a silently-divergent pyramid."""
    zcap = min(options.index_max_zoom, options.max_zoom)
    max_extra = min(int(max_extra), zcap - z - 1)
    if max_extra <= 0:
        return 0
    cap = int(options.index_max_points)
    p = options.buffer / options.extent
    l_max = z + max_extra
    sz = float(1 << z)
    smax = float(1 << l_max)

    # coords is stride-3 [x, y, m] (model.py FEATURE_SCHEMA) — enumerate
    # true vertices only, skipping the DP m slots
    pairs = F.explode(
        F.expr(
            "transform(sequence(0, int(size(coords)/3) - 1), "
            "i -> struct(coords[3*i] AS vx, coords[3*i+1] AS vy))"
        )
    ).alias("p")
    # size<3 rows would make sequence(0,-1) DESCEND instead of be empty
    v = frontier.where(F.size("coords") >= 3).select("x", "y", pairs).select(
        "x", "y", "p.vx", "p.vy"
    )

    binned = (
        v.where(
            (F.floor(F.col("vx") * sz) == F.col("x").cast("long"))
            & (F.floor(F.col("vy") * sz) == F.col("y").cast("long"))
        )
        .select(
            F.floor(F.col("vx") * smax).cast("long").alias("bx"),
            F.floor(F.col("vy") * smax).cast("long").alias("by"),
        )
        .groupBy("bx", "by")
        .agg(F.count(F.lit(1)).alias("lb"))
    )

    levels = list(range(z + 1, z + max_extra + 1))
    # every level's tile-keyed lower bounds from the ONE binned aggregate
    lb_all = (
        binned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.shiftright(F.col("bx"), l_max - j).alias("tx"),
                            F.shiftright(F.col("by"), l_max - j).alias("ty"),
                        )
                        for j in levels
                    ]
                )
            ).alias("s"),
            "lb",
        )
        .groupBy("s.j", "s.tx", "s.ty")
        .agg(F.sum("lb").alias("lb"))
    )

    bb = frontier.select("minx", "miny", "maxx", "maxy")
    cand_parts = []
    for j in levels:
        sj = float(1 << j)
        x0 = F.greatest(
            F.lit(0).cast("long"),
            F.ceil(F.col("minx") * sj - 1 - p).cast("long"),
        )
        x1 = F.least(
            F.lit((1 << j) - 1).cast("long"),
            F.floor(F.col("maxx") * sj + p).cast("long"),
        )
        y0 = F.greatest(
            F.lit(0).cast("long"),
            F.ceil(F.col("miny") * sj - 1 - p).cast("long"),
        )
        y1 = F.least(
            F.lit((1 << j) - 1).cast("long"),
            F.floor(F.col("maxy") * sj + p).cast("long"),
        )
        cand_parts.append(
            bb.where((x1 >= x0) & (y1 >= y0))
            .select(
                F.lit(j).alias("j"),
                F.explode(F.sequence(x0, x1)).alias("tx"),
                y0.alias("y0"),
                y1.alias("y1"),
            )
            .select(
                "j",
                "tx",
                F.explode(F.sequence(F.col("y0"), F.col("y1"))).alias("ty"),
            )
        )
    cand = cand_parts[0]
    for part in cand_parts[1:]:
        cand = cand.unionByName(part)
    # duplicate candidate rows are harmless under the MIN — skip per-level
    # distincts; one aggregate answers every level
    worst = {
        r.j: r.wlb
        for r in cand.join(lb_all, ["j", "tx", "ty"], "left")
        .groupBy("j")
        .agg(F.min(F.coalesce(F.col("lb"), F.lit(0))).alias("wlb"))
        .collect()
    }
    extra = 0
    for j in levels:
        wlb = worst.get(j)  # absent = no candidate tiles at j = nothing unsafe
        if wlb is not None and wlb <= cap:
            break
        extra += 1
    return extra


def _level_fn(options: Options, extra_levels: int = 0):
    """FUSED per-level mapInArrow kernel: one Arrow crossing does both tile
    assembly and the 4-way split. Input: FEATURE rows + a `do_split`
    boolean (the driver's stop-rule decision, computed JVM-side from
    SUM(rlens) before this kernel runs). Output: UNIFIED record batches —
    kind=1 assembled tile-feature rows for EVERY input feature (tf_* null
    when the feature simplifies away; npoints/nsimplified always set, they
    feed the registry aggregate), and kind=0 child-feature rows for the
    splitting tiles (the next frontier).

    extra_levels > 0 is HEAD FUSION (_head_fuse_depth): the driver has
    proved that every possibly-non-empty tile at the next `extra_levels`
    levels must split, so the kernel recurses them in-task — assembling and
    force-splitting each level's children without returning to the JVM —
    and emits the frontier at z + extra_levels + 1. Per fused level this
    saves a full-corpus Arrow round trip plus a checkpoint materialization;
    the per-row outputs are bit-identical to the unfused path because the
    exact same assemble/split kernels run in the exact same per-feature
    order.

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
            bundles = _split_children(_take_state(state, sidx), options)
            for _step in range(extra_levels):
                # head fusion: every child tile is driver-guaranteed to
                # split — assemble this level and descend, all in-task
                if not bundles:
                    break
                state = _concat_states(bundles)
                yield _tile_rows(state, options)[0]
                bundles = _split_children(state, options)
            for bundle in bundles:
                yield _feature_rows(bundle, 0)

    return fn


# unified output of the pyramid kernels: one pass emits next-frontier
# features (kind=0), tile features (kind=1), retained sources (kind=2) and
# registry rows (kind=3)
def _unified_schema():
    from pyspark.sql import types as T

    fields = {}
    for f in TILE_FEATURE_SCHEMA.fields:
        fields[f.name] = f.dataType
    for f in FEATURE_SCHEMA.fields:
        fields.setdefault(f.name, f.dataType)
    fields["num_features"] = T.LongType()
    fields["num_points"] = T.LongType()
    fields["num_simplified"] = T.LongType()
    fields["has_source"] = T.BooleanType()
    fields["kind"] = T.IntegerType()
    return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])


UNIFIED_SCHEMA = _unified_schema()
_UNIFIED_ARROW = to_arrow_schema(UNIFIED_SCHEMA)


def _subtree_fn(options: Options, target, emit_root: bool = False):
    """applyInArrow kernel (table in, table out): all feature rows of ONE
    splitting tile -> the tile's entire sub-pyramid (reference splitTile
    semantics, tile-index.ts:138-228), processed as a batched BFS: each
    subtree level assembles + 4-way-clips EVERY tile of the level at once
    with the flat-array kernels (functions/flat.py) — no per-vertex Python.

    emit_root=False (loop mode): the caller's level crossing already
    assembled the root tile and wrote its registry row, so the kernel
    splits the root silently and starts emitting at the children.
    emit_root=True (one-shot small-corpus mode): the kernel owns the WHOLE
    pyramid — the root goes through the same generic assemble/registry/
    stop path as every deeper level, so build_pyramid can route a small
    corpus through one kernel call with zero per-level crossings."""

    def fn(table: pa.Table) -> pa.Table:
        okey = table.column("okey").to_pylist()
        order = sorted(range(table.num_rows), key=okey.__getitem__)
        state = _read_state(
            table.take(pa.array(order, pa.int64())).combine_chunks()
            .to_batches()[0]
        )
        z0, x0, y0 = int(state[1][0]), int(state[2][0]), int(state[3][0])
        out: list = []  # emitted UNIFIED record batches
        expected: list = []
        is_root = True
        if emit_root:
            # one-shot mode: treat the root as an expected tile so the
            # generic level code below assembles it, writes its registry
            # row, and applies the stop rule — identical per-tile math to
            # the per-level loop it replaces
            expected = [(z0, x0, y0)]
            is_root = False

        while True:
            nfe = state[0].n_features

            if is_root:
                split_ranges = [(0, nfe)]
                split_keys = [(z0, x0, y0)]
                is_root = False
            else:
                if nfe == 0 and not expected:
                    break
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
                if reg:
                    c = list(zip(*reg))
                    out.append(_unified_batch(
                        len(reg), 3, z=c[0], x=c[1], y=c[2],
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
                        _take_state(state, _span_idx(stop_ranges)), 2
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

        return pa.Table.from_batches(out, schema=_UNIFIED_ARROW)

    return fn


class PyramidStore:
    """Accumulated pyramid state: tile features, tile registry, retained
    sources (the drill-down frontier, tile-index.ts:174)."""

    def __init__(self, spark: SparkSession, options: Options, workdir: Optional[str]):
        self.spark = spark
        self.options = options
        self.workdir = workdir
        self.tiles: list[DataFrame] = []
        self.registry: list[DataFrame] = []
        self.sources: list[DataFrame] = []
        # head-fusion audit: [(level, extra_levels_fused)] per build pass
        self.head_fused: list = []
        # one-shot audit: True when a build pass ran the whole pyramid
        # through the single subtree-kernel call (small corpora)
        self.one_shot: bool = False

    def tiles_df(self) -> DataFrame:
        return self._union(self.tiles, TILE_FEATURE_SCHEMA)

    def registry_df(self) -> DataFrame:
        from ..model import REGISTRY_SCHEMA

        return self._union(self.registry, REGISTRY_SCHEMA)

    def sources_df(self) -> DataFrame:
        return self._union(self.sources, FEATURE_SCHEMA)

    def _union(self, dfs: list[DataFrame], schema) -> DataFrame:
        if not dfs:
            return self.spark.createDataFrame([], schema)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def compact(self) -> None:
        """Fold each accumulated frame list into one materialized frame.

        Incremental updates and repeated drill-downs append (and anti-join)
        per-level frames; left unchecked the union plans grow linearly with
        the number of operations and every tile lookup re-plans them all.
        Compacting is the Iceberg-snapshot analog: one localCheckpoint per
        table, after which lookups scan a single cached relation."""
        self.tiles = [self.tiles_df().localCheckpoint(eager=True)]
        self.registry = [self.registry_df().localCheckpoint(eager=True)]
        self.sources = [self.sources_df().localCheckpoint(eager=True)]


_CKPT_POOL = None


def _ckpt_pool():
    """One background thread for overlapping the subtree materialization with
    the same level's fused pass (two Spark jobs; task slots cap concurrency)."""
    global _CKPT_POOL
    if _CKPT_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _CKPT_POOL = ThreadPoolExecutor(max_workers=1)
    return _CKPT_POOL


def _checkpoint(df: DataFrame, workdir: Optional[str], name: str, resume: bool) -> DataFrame:
    """Per-level lineage checkpoint. With a workdir each level is a snapshot
    in the configured table format (parquet dir by default, Iceberg table
    when a catalog is present — sources/table_format.py); without,
    localCheckpoint truncates lineage."""
    if workdir:
        from ..sources.table_format import resolve_format

        store = resolve_format(df.sparkSession, workdir)
        if not (resume and store.exists(name)):
            store.write(df, name)
        return store.read(df.sparkSession, name, df.schema)
    return df.localCheckpoint(eager=True)


def build_pyramid(
    features_df: DataFrame,
    options: Options,
    store: Optional[PyramidStore] = None,
    workdir: Optional[str] = None,
    resume: bool = False,
    start: tuple = (0, 0, 0),
    target: Optional[tuple] = None,
    register_start: bool = False,
) -> PyramidStore:
    """Run the per-zoom split loop.

    features_df: FEATURE_SCHEMA rows already assigned to the `start` tile.
    target: (cz, cx, cy) for drill-down mode (getTile miss), else None for the
            first-pass indexing run.
    """
    spark = features_df.sparkSession
    if store is None:
        store = PyramidStore(spark, options, workdir)

    z0, _, _ = start
    cz = cx = cy = None
    if target is not None:
        cz, cx, cy = target

    frontier = features_df
    expected: Optional[DataFrame] = None  # child keys owed a registry entry
    expected_keys: Optional[list] = [start]  # driver mode; None once too large
    z = z0
    first_level = True
    pre_got: Optional[dict] = None  # next level's stats carried from the
    # fused bookkeeping collect (one aggregate answers both; saves a job)

    # reference debug option (tile-index.ts:14,166-169 timing logs): >=1
    # prints per-level phase timings on the driver
    def _tick(label: str, t0: float) -> float:
        if options.debug:
            print(
                f"[pyramid z={z:02d}] {label}: {time.time() - t0:.2f}s",
                file=sys.stderr, flush=True,
            )
        return time.time()

    from ..model import REGISTRY_SCHEMA

    # Arrow-stage parallelism: each Python-stage task occupies ~2-4 native
    # threads (JVM Arrow serde + the Python worker + numpy), the
    # `spark.task.cpus`-style accounting a cluster deployment expresses with
    # a ResourceProfile. Defaulting these stages to parallelism/4 partitions
    # keeps the host from oversubscribing — and stays below the concurrent
    # Arrow-stream count that trips this sandbox's virtualized guest kernel
    # (45-75% system time at ~32 streams; real executors run 4-8 streams).
    _par = spark.sparkContext.defaultParallelism
    arrow_parts = _par if _par <= 8 else max(8, _par // 4)

    tile_cols = [f.name for f in TILE_FEATURE_SCHEMA.fields]
    feat_cols = [f.name for f in FEATURE_SCHEMA.fields]
    # decision counter, computed JVM-side: total source vertices per feature
    # equals SUM(rlens) — identical to the assembly's npoints counter
    npts_col = F.aggregate(
        "rlens", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
    )

    already_rdd = False
    if workdir is None:
        # callers that hand us an eagerly-materialized frontier (bench,
        # drill-down re-entry over cached sources) gain nothing from a
        # second localCheckpoint pass — skip it
        try:
            already_rdd = (
                frontier._jdf.queryExecution()
                .optimizedPlan()
                .toString()
                .startswith("LogicalRDD")
            )
        except Exception:  # noqa: BLE001 — conservative: checkpoint
            already_rdd = False
    if not already_rdd:
        frontier = _checkpoint(
            frontier, workdir, f"frontier/z={z0:02d}", resume
        )

    while True:
        t0 = time.time()
        sub_future = None
        subtree_list = []
        fuse_extra = 0
        # ---- decision stats: pure-JVM counters over the frontier (no
        # Python crossing; the stop rule needs only counts + vertex sums) ----
        stats = frontier.groupBy("z", "x", "y").agg(
            F.count(F.lit(1)).alias("num_features"),
            F.sum(npts_col).alias("num_points"),
        )

        driver_mode = expected_keys is not None and len(expected_keys) <= _BROADCAST_TILE_LIMIT

        carried, pre_got = pre_got, None
        if driver_mode:
            # ---- driver-side decision path: the per-level tile-count is
            # bounded (<= 4 x previous splits), so the split/stop decision
            # table fits the driver; one job per level instead of four.
            # Tile DATA stays distributed; only per-tile counters come back.
            if carried is not None:
                got = carried
                t0 = _tick("stats carried (fused bookkeeping agg)", t0)
            else:
                got = {(r.z, r.x, r.y): r for r in stats.collect()}
                t0 = _tick("stats collect (JVM counters)", t0)
            skel_rows = []
            split_list: list = []
            stop_list: list = []
            for key in expected_keys:
                r = got.get(key)
                nf = r.num_features if r else 0
                npts = r.num_points if r else 0
                stopped = _stop_rule(*key, npts, options, target)
                if (not stopped) and nf > 0:
                    split_list.append(key)
                else:
                    stop_list.append(key)
                skel_rows.append(
                    (key[0], key[1], key[2], nf, npts, bool(stopped and nf > 0))
                )
            # ---- one-shot small-corpus mode: a single splitting root whose
            # total vertex count fits one task's budget runs the WHOLE
            # pyramid through the subtree kernel (emit_root=True) — no
            # per-level crossings, no per-level checkpoints; the kernel's
            # per-tile math is identical to the loop (equality-tested) ----
            if (
                z == z0
                and target is None
                and len(expected_keys) == 1
                and split_list == expected_keys
                and got.get(split_list[0]) is not None
                and 0
                < got[split_list[0]].num_points
                <= _ONE_SHOT_MAX_POINTS
            ):
                # coalesce(1) + mapInArrow: narrow read of the checkpointed
                # frontier blocks straight into the one task — no shuffle
                # exchange for a single-group applyInArrow
                sub_kernel = _subtree_fn(options, None, emit_root=True)

                def _one_shot(batches):
                    rows = [b for b in batches if b.num_rows]
                    if rows:
                        yield from sub_kernel(
                            pa.Table.from_batches(rows)
                        ).to_batches()

                unified_os = frontier.coalesce(1).mapInArrow(
                    _one_shot, UNIFIED_SCHEMA
                )
                unified_os = _checkpoint(
                    unified_os, workdir, f"oneshot/z={z0:02d}", resume
                )
                store.tiles.append(
                    unified_os.filter(F.col("kind") == 1).select(*tile_cols)
                )
                store.sources.append(
                    unified_os.filter(F.col("kind") == 2).select(*feat_cols)
                )
                store.registry.append(
                    unified_os.filter(F.col("kind") == 3).select(
                        *[f.name for f in REGISTRY_SCHEMA.fields]
                    )
                )
                store.one_shot = True
                _tick("one-shot subtree (whole pyramid)", t0)
                return store

            skel = spark.createDataFrame(
                skel_rows,
                "z int, x int, y int, num_features long, num_points long, has_source boolean",
            )

            # ---- subtree phase: route task-sized splitting tiles to a
            # one-shot per-subtree kernel; keep oversized tiles in the loop
            if split_list and (
                target is not None or len(split_list) >= _SUBTREE_MIN_TILES
            ):
                subtree_list = [
                    k
                    for k in split_list
                    if got.get(k) is not None
                    and got[k].num_points <= _SUBTREE_MAX_POINTS
                ]
                if subtree_list:
                    sub_set = set(subtree_list)
                    split_list = [k for k in split_list if k not in sub_set]
                    # Explicit skew handling (the north rule's "salting for
                    # hot tiles"): hash placement of whole-subtree groups is
                    # a lottery — a partition that draws several heavy
                    # subtrees serializes the level. The driver knows every
                    # subtree's vertex count from the decision stats, so
                    # LPT-pack them into near-equal bins and mint synthetic
                    # group ids whose Murmur3 hash pins each bin to its own
                    # partition (plans/balance.py). repartition on the gid
                    # satisfies the groupBy's ClusteredDistribution, so the
                    # balanced shuffle is the ONLY shuffle.
                    sub_parts = max(
                        arrow_parts, min(len(subtree_list), arrow_parts * 4)
                    )
                    sub_weights = [
                        max(1, int(got[k].num_points)) for k in subtree_list
                    ]
                    gid_map = balanced_gid_mapping(
                        subtree_list, sub_weights, sub_parts
                    )
                    map_df = spark.createDataFrame(
                        [(k[0], k[1], k[2], gid_map[k]) for k in subtree_list],
                        "z int, x int, y int, gid long",
                    )
                    sub_frontier = frontier.join(
                        F.broadcast(map_df), ["z", "x", "y"], "inner"
                    )
                    sub_frontier = sub_frontier.repartition(sub_parts, "gid")
                    unified_sub = sub_frontier.groupBy("gid").applyInArrow(
                        _subtree_fn(options, target), UNIFIED_SCHEMA
                    )
                    # materialize CONCURRENTLY with this level's fused pass:
                    # both jobs read the (already-checkpointed) frontier, and
                    # total in-flight tasks stay capped by the task slots, so
                    # the scheduler interleaves instead of serializing two
                    # barriers per level
                    sub_name = f"subtree/z={z:02d}"
                    sub_future = _ckpt_pool().submit(
                        _checkpoint, unified_sub, workdir, sub_name, resume
                    )

            n_split = len(split_list)
            split_keys = spark.createDataFrame(
                split_list or [(0, 0, 0)], ["z", "x", "y"]
            )
            if not split_list:
                split_keys = split_keys.limit(0)
            stop_keys_df = spark.createDataFrame(
                stop_list or [(0, 0, 0)], ["z", "x", "y"]
            )
            if not stop_list:
                stop_keys_df = stop_keys_df.limit(0)
            sources = frontier.join(
                F.broadcast(stop_keys_df), ["z", "x", "y"], "leftsemi"
            ).cache()  # lazy — materialized only if a drill-down reads it
            flag_keys = F.broadcast(split_keys.withColumn("do_split", F.lit(True)))
            decision = None
            if target is None and split_list:
                # a stopped-with-features tile at this level makes the proof
                # fail for free: candidates strictly under it can only draw
                # lower-bound mass from its own rows (<= its num_points <=
                # cap), so skip the full-corpus vertex scan entirely
                any_retained = any(
                    got.get(k) is not None and got[k].num_features > 0
                    for k in stop_list
                )
                # cap the fused fan-out so the post-pass per-tile stats
                # collect stays within the same driver bound as the
                # per-level decision path (4x per fused level)
                cap_extra = _HEAD_FUSE_MAX
                while cap_extra and (
                    len(split_list) << (2 * cap_extra)
                ) > _BROADCAST_TILE_LIMIT:
                    cap_extra -= 1
                if not any_retained and cap_extra:
                    fuse_extra = _head_fuse_depth(frontier, z, options, cap_extra)
                    if fuse_extra:
                        t0 = _tick(f"head-fuse proof (+{fuse_extra} levels)", t0)
        else:
            # ---- distributed decision path (web-scale levels) ----
            if expected is None and expected_keys is not None:
                # first level after leaving driver mode: the child-key list
                # outgrew the broadcast limit but still owes registry entries
                # for empty children (tile-index.ts:223-226) — seed `expected`
                # from it before dropping the driver-side list.
                expected = spark.createDataFrame(expected_keys, ["z", "x", "y"])
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
            stop_keys = decision.filter("stopped").select("z", "x", "y")
            if n_split < _BROADCAST_TILE_LIMIT:
                stop_keys = F.broadcast(stop_keys)
            sources = frontier.join(stop_keys, ["z", "x", "y"], "leftsemi")
            sources = _checkpoint(sources, workdir, f"sources/z={z:02d}", resume)
            flag_keys = split_keys.withColumn("do_split", F.lit(True))
            if n_split < _BROADCAST_TILE_LIMIT:
                flag_keys = F.broadcast(flag_keys)

        # ---- fused assemble+split: ONE Arrow crossing per level ----
        flagged = (
            frontier.join(flag_keys, ["z", "x", "y"], "left")
            .fillna(False, ["do_split"])
        )
        unified = flagged.coalesce(arrow_parts).mapInArrow(
            _level_fn(options, fuse_extra), UNIFIED_SCHEMA
        )
        # fused snapshots carry the depth in their name: resuming under a
        # different _HEAD_FUSE_MAX recomputes (correct, orphaning the
        # old snapshot) instead of silently replaying a pass whose level
        # span the driver bookkeeping no longer matches
        uname = f"unified/z={z:02d}" + (f"+{fuse_extra}" if fuse_extra else "")
        unified = _checkpoint(unified, workdir, uname, resume)
        t0 = _tick(
            "fused assemble+split ckpt"
            + (f" (head-fused +{fuse_extra})" if fuse_extra else ""),
            t0,
        )

        if fuse_extra:
            # ---- head-fusion bookkeeping: registry skeletons for the fused
            # levels from the kernel's own kind=1 emissions (exact
            # num_features/num_points — npoints is the same SUM(rlens) the
            # per-level JVM stats would have computed), expected-children
            # chains per level, and a loud recheck of the split guarantee.
            # The SAME aggregate also groups the kind=0 frontier rows, so the
            # NEXT level's decision stats ride this collect for free (carried
            # via pre_got — one serial job per fused pass instead of two) ----
            comb = (
                unified.filter(F.col("kind").isin(0, 1))
                .groupBy("kind", "z", "x", "y")
                .agg(
                    F.count(F.lit(1)).alias("nf"),
                    F.sum(
                        F.when(F.col("kind") == 1, F.col("npoints")).otherwise(
                            npts_col
                        )
                    ).alias("npts"),
                )
                .collect()
            )
            fus = [r for r in comb if r.kind == 1 and r.z > z]
            pre_got = {
                (r.z, r.x, r.y): _StatRow(int(r.nf), int(r.npts))
                for r in comb
                if r.kind == 0
            }
            bylv: dict = {}
            for r in fus:
                bylv.setdefault(int(r.z), {})[(int(r.x), int(r.y))] = (
                    int(r.nf), int(r.npts),
                )
            cap_pts = int(options.index_max_points)
            prev_nonempty = split_list
            extra_rows = []
            for j in range(z + 1, z + fuse_extra + 1):
                exp_j = [
                    (j, kx * 2 + dx, ky * 2 + dy)
                    for (_kz, kx, ky) in prev_nonempty
                    for dx in (0, 1)
                    for dy in (0, 1)
                ]
                m = bylv.get(j, {})
                for key in exp_j:
                    nf, npts = m.get((key[1], key[2]), (0, 0))
                    if nf and npts <= cap_pts:
                        raise RuntimeError(
                            "head-fusion guarantee violated: tile "
                            f"z={j} x={key[1]} y={key[2]} has num_points="
                            f"{npts} <= index_max_points={cap_pts}; the "
                            "lower-bound proof admitted a tile the stop "
                            "rule would have retained. Setting "
                            "plans.pyramid._HEAD_FUSE_MAX = 0 disables head "
                            "fusion; please report."
                        )
                    extra_rows.append((j, key[1], key[2], nf, npts, False))
                prev_nonempty = [k for k in exp_j if (k[1], k[2]) in m]
            skel = skel.unionByName(
                spark.createDataFrame(
                    extra_rows,
                    "z int, x int, y int, num_features long, "
                    "num_points long, has_source boolean",
                )
            )
            store.head_fused.append((z, fuse_extra))
            # advance the loop past the fused levels: the next iteration's
            # expected children derive from the DEEPEST fused level's
            # non-empty (hence split) tiles
            split_list = prev_nonempty
            z += fuse_extra
        if sub_future is not None:
            unified_sub = sub_future.result()
            t0 = _tick(f"subtree join ({len(subtree_list)} tiles)", t0)
            store.tiles.append(
                unified_sub.filter(F.col("kind") == 1).select(*tile_cols)
            )
            store.sources.append(
                unified_sub.filter(F.col("kind") == 2).select(*feat_cols)
            )
            store.registry.append(
                unified_sub.filter(F.col("kind") == 3).select(
                    *[f.name for f in REGISTRY_SCHEMA.fields]
                )
            )
        kind1 = unified.filter(F.col("kind") == 1)

        # registry: driver/decision skeleton (num_features, num_points,
        # has_source) + per-tile num_simplified from the assembled rows —
        # a small lazy join, materialized only when the registry is read
        nsimp_agg = kind1.groupBy("z", "x", "y").agg(
            F.sum("nsimplified").alias("num_simplified")
        )
        registry_df = (
            skel.join(nsimp_agg, ["z", "x", "y"], "left")
            .fillna(0, ["num_simplified"])
            .select(*[f.name for f in REGISTRY_SCHEMA.fields])
        )

        # registry entries for this level (tiles kept forever; source retained
        # only where we stopped — tile-index.ts:174,191)
        store.registry.append(registry_df)
        store.tiles.append(
            kind1.filter(F.col("tf_type").isNotNull()).select(*tile_cols)
        )
        store.sources.append(sources)

        if first_level and target is not None and not register_start:
            # drill-down re-entry: the start tile itself is already registered
            # by the first pass; drop the duplicate entry
            start_df = spark.createDataFrame([start], ["z", "x", "y"])
            for attr in ("registry", "tiles", "sources"):
                lst = getattr(store, attr)
                lst[-1] = lst[-1].join(start_df, ["z", "x", "y"], "left_anti")
        first_level = False

        if n_split == 0:
            if decision is not None:
                decision.unpersist()
            break

        frontier = unified.filter(F.col("kind") == 0).select(*feat_cols)

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
            expected = _checkpoint(expected, workdir, f"expected/z={z + 1:02d}", resume)
        if decision is not None:
            decision.unpersist()
        z += 1

    return store
