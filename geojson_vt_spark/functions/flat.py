"""Whole-batch geometry kernels (the SURVEY §2 O10 vectorization).

Batched re-expression of clip.py's per-feature band clip and tile.py's
per-feature assembly: EVERY feature of an Arrow batch is processed at once as
flat numpy arrays — the per-vertex Python walkers become segment masks,
interpolated-crossing scatters and segmented gathers.  Semantics match
clip.py / tile.py (reference /root/reference/src/clip.ts, tile.ts) bit for
bit: identical float expressions, identical emission order, per-ring
sequential summation orders preserved (2-D cumsum grouped by ring length, so
the left-to-right float rounding matches the scalar walker exactly).
tests/test_flat.py asserts batch == scalar on golden fixtures and randomized
geometry.

Layout: a `Flat` holds F features / R rings / V vertices as parallel arrays —
the columnar twin of one FEATURE_SCHEMA Arrow batch (model.py), with rings
grouped contiguously per feature and vertices per ring.
"""

from __future__ import annotations

import numpy as np

from .feature import (
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
)

AXIS_X = 0
AXIS_Y = 1

_I8 = np.int64


class Flat:
    """F features / R rings / V vertices as parallel flat arrays."""

    __slots__ = (
        "xs", "ys", "ms",            # (V,) vertex coords + DP sq-distance
        "roff",                       # (R+1,) ring -> vertex offset
        "rpoly", "rsize", "rstart", "rend",  # (R,) ring metadata
        "foff",                       # (F+1,) feature -> ring offset
        "ftype",                      # (F,) geometry type codes
        "minx", "miny", "maxx", "maxy",      # (F,) feature bbox
    )

    def __init__(self, xs, ys, ms, roff, rpoly, rsize, rstart, rend,
                 foff, ftype, minx, miny, maxx, maxy):
        self.xs, self.ys, self.ms = xs, ys, ms
        self.roff = roff
        self.rpoly, self.rsize, self.rstart, self.rend = rpoly, rsize, rstart, rend
        self.foff = foff
        self.ftype = ftype
        self.minx, self.miny, self.maxx, self.maxy = minx, miny, maxx, maxy

    @property
    def n_features(self) -> int:
        return len(self.ftype)

    @property
    def n_rings(self) -> int:
        return len(self.rpoly)

    @property
    def n_vertices(self) -> int:
        return len(self.xs)

    def ring_feat(self) -> np.ndarray:
        return np.repeat(np.arange(self.n_features, dtype=_I8), np.diff(self.foff))

    def feat_voff(self) -> np.ndarray:
        """(F+1,) feature -> vertex offset (rings are contiguous per feature)."""
        return self.roff[self.foff]


def empty_flat() -> Flat:
    e = np.empty(0, np.float64)
    z = np.zeros(1, _I8)
    return Flat(e, e, e, z, np.empty(0, np.int32), e, e, e,
                z, np.empty(0, np.int32), e, e, e, e)


def _seg_gather(off: np.ndarray, order: np.ndarray):
    """Gather variable-length segments in a new order.

    off: (S+1,) offsets into an item array; order: indices of segments to take
    (in output order). Returns (item_idx, new_off)."""
    order = np.asarray(order, dtype=_I8)
    lens = np.diff(off)
    sel = lens[order]
    new_off = np.empty(len(order) + 1, dtype=_I8)
    new_off[0] = 0
    np.cumsum(sel, out=new_off[1:])
    total = int(new_off[-1])
    if total == 0:
        return np.empty(0, _I8), new_off
    idx = (
        np.arange(total, dtype=_I8)
        - np.repeat(new_off[:-1], sel)
        + np.repeat(off[:-1][order], sel)
    )
    return idx, new_off


def _seg_sum(vals: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Per-segment sum, safe for empty segments (bool or numeric vals)."""
    cs = np.concatenate(([0], np.cumsum(vals, dtype=_I8 if vals.dtype == bool else None)))
    return cs[off[1:]] - cs[off[:-1]]


def take(fl: Flat, fidx: np.ndarray) -> Flat:
    """Sub-Flat of the selected features, in the given order."""
    fidx = np.asarray(fidx, dtype=_I8)
    ridx, foff2 = _seg_gather(fl.foff, fidx)
    vidx, roff2 = _seg_gather(fl.roff, ridx)
    return Flat(
        fl.xs[vidx], fl.ys[vidx], fl.ms[vidx], roff2,
        fl.rpoly[ridx], fl.rsize[ridx], fl.rstart[ridx], fl.rend[ridx],
        foff2, fl.ftype[fidx],
        fl.minx[fidx], fl.miny[fidx], fl.maxx[fidx], fl.maxy[fidx],
    )


def concat_flats(fls: list) -> Flat:
    fls = [f for f in fls if f.n_features]
    if not fls:
        return empty_flat()
    if len(fls) == 1:
        return fls[0]
    xs = np.concatenate([f.xs for f in fls])
    ys = np.concatenate([f.ys for f in fls])
    ms = np.concatenate([f.ms for f in fls])
    roffs, foffs = [fls[0].roff], [fls[0].foff]
    vbase, rbase = fls[0].roff[-1], fls[0].foff[-1]
    for f in fls[1:]:
        roffs.append(f.roff[1:] + vbase)
        foffs.append(f.foff[1:] + rbase)
        vbase = vbase + f.roff[-1]
        rbase = rbase + f.foff[-1]
    return Flat(
        xs, ys, ms, np.concatenate(roffs),
        np.concatenate([f.rpoly for f in fls]),
        np.concatenate([f.rsize for f in fls]),
        np.concatenate([f.rstart for f in fls]),
        np.concatenate([f.rend for f in fls]),
        np.concatenate(foffs),
        np.concatenate([f.ftype for f in fls]),
        np.concatenate([f.minx for f in fls]),
        np.concatenate([f.miny for f in fls]),
        np.concatenate([f.maxx for f in fls]),
        np.concatenate([f.maxy for f in fls]),
    )


# --------------------------------------------------------------------------
# Arrow <-> Flat adapters (FEATURE_SCHEMA list columns read and written as
# offsets + values buffers)
# --------------------------------------------------------------------------

def list_parts(arr):
    """(offsets, values) numpy views of a list column, rebased so
    offsets[0] == 0 even when the array is a slice of a larger one."""
    off = arr.offsets.to_numpy()
    vals = arr.values.to_numpy()[off[0]:off[-1]]
    return (off - off[0]).astype(_I8, copy=False), vals


def flat_from_arrow(batch) -> Flat:
    """FEATURE_SCHEMA pa.RecordBatch -> Flat, straight from the list
    columns' buffers: no per-row Python objects."""
    if batch.num_rows == 0:
        return empty_flat()

    def col(name, dtype):
        return np.asarray(batch.column(name).to_numpy(), dtype)

    def vals(name, dtype):
        return list_parts(batch.column(name))[1].astype(dtype, copy=False)

    c = vals("coords", np.float64)
    foff, rl = list_parts(batch.column("rlens"))
    roff = np.empty(len(rl) + 1, _I8)
    roff[0] = 0
    np.cumsum(rl, out=roff[1:])
    return Flat(
        np.ascontiguousarray(c[0::3]),
        np.ascontiguousarray(c[1::3]),
        np.ascontiguousarray(c[2::3]),
        roff,
        vals("rpoly", np.int32), vals("rsize", np.float64),
        vals("rstart", np.float64), vals("rend", np.float64),
        foff,
        col("ftype", np.int32),
        col("minx", np.float64), col("miny", np.float64),
        col("maxx", np.float64), col("maxy", np.float64),
    )


def _interleave(fl: Flat):
    """Stride-3 [x,y,m] coord buffer + per-feature vertex offsets — the one
    shared encoding both cell builders emit."""
    V = fl.n_vertices
    inter = np.empty(3 * V, np.float64)
    inter[0::3] = fl.xs
    inter[1::3] = fl.ys
    inter[2::3] = fl.ms
    return inter, fl.feat_voff()


def flat_to_cells_arrow(fl: Flat) -> dict:
    """flat_to_cells for Spark-bound batches: the six list columns come back
    as pa.ListArrays built with ListArray.from_arrays over the Flat's
    existing contiguous buffers — zero per-feature Python view objects.
    Only for batches handed to Spark; Python consumers use flat_to_cells."""
    import pyarrow as pa

    # int32 ListArray offsets bound BOTH cast quantities: coord offsets
    # (3 * vertex count) and ring offsets (total ring count — NOT bounded by
    # vertices: zero-vertex rings are legal). Hard raise, not assert, so
    # PYTHONOPTIMIZE cannot turn overflow into silent offset wraparound.
    if 3 * fl.n_vertices >= 2**31 or int(fl.foff[-1]) >= 2**31:
        raise ValueError(
            "batch overflows int32 list offsets: "
            f"{fl.n_vertices} vertices / {int(fl.foff[-1])} rings"
        )
    inter, fvo = _interleave(fl)

    def la(vals, offs):
        return pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), pa.array(vals))

    return {
        "coords": la(inter, 3 * fvo),
        "rlens": la(np.diff(fl.roff).astype(np.int32), fl.foff),
        "rpoly": la(fl.rpoly, fl.foff),
        "rsize": la(fl.rsize, fl.foff),
        "rstart": la(fl.rstart, fl.foff),
        "rend": la(fl.rend, fl.foff),
        "ftype": fl.ftype,
        "minx": fl.minx, "miny": fl.miny, "maxx": fl.maxx, "maxy": fl.maxy,
    }


def flat_to_cells(fl: Flat) -> dict:
    """Inverse of flat_from_arrow: per-feature cells for row materialization."""
    inter, fvo = _interleave(fl)
    rsplit = fl.foff[1:-1]
    return {
        "coords": np.split(inter, 3 * fvo[1:-1]),
        "rlens": np.split(np.diff(fl.roff).astype(np.int32), rsplit),
        "rpoly": np.split(fl.rpoly, rsplit),
        "rsize": np.split(fl.rsize, rsplit),
        "rstart": np.split(fl.rstart, rsplit),
        "rend": np.split(fl.rend, rsplit),
        "ftype": fl.ftype,
        "minx": fl.minx, "miny": fl.miny, "maxx": fl.maxx, "maxy": fl.maxy,
    }


# --------------------------------------------------------------------------
# batched band clip (clip.ts semantics, all features at once)
# --------------------------------------------------------------------------

def clip_flat(fl: Flat, start_f: np.ndarray, end_f: np.ndarray, axis: int,
              line_metrics: bool):
    """Clip every feature to its per-feature band [start_f, end_f] on `axis`.

    Returns (out_flat, src, j): src[i] = input feature index of output feature
    i, j[i] = slice ordinal within that input feature (okey suffix; always 0
    except LineString slices under lineMetrics). Output ordered by (src, j) —
    the scalar clip_one emission order."""
    F = fl.n_features
    if F == 0:
        return fl, np.empty(0, _I8), np.empty(0, _I8)

    fmin = fl.minx if axis == AXIS_X else fl.miny
    fmax = fl.maxx if axis == AXIS_X else fl.maxy
    acc = (fmin >= start_f) & (fmax < end_f)
    rej = (fmax < start_f) | (fmin >= end_f)
    work = ~(acc | rej)
    ispt = (fl.ftype == POINT) | (fl.ftype == MULTIPOINT)

    parts = []
    idx_a = np.flatnonzero(acc)
    if idx_a.size:
        parts.append((idx_a.astype(_I8), np.zeros(idx_a.size, _I8), take(fl, idx_a)))
    idx_b = np.flatnonzero(work & ispt)
    if idx_b.size:
        parts.append(_clip_points_flat(fl, idx_b, start_f, end_f, axis))
    idx_c = np.flatnonzero(work & ~ispt)
    if idx_c.size:
        parts.append(_clip_lines_polys_flat(fl, idx_c, start_f, end_f, axis,
                                            line_metrics))

    parts = [p for p in parts if p[0].size]
    if not parts:
        return empty_flat(), np.empty(0, _I8), np.empty(0, _I8)
    src = np.concatenate([p[0] for p in parts])
    j = np.concatenate([p[1] for p in parts])
    cat = concat_flats([p[2] for p in parts])
    kj = int(j.max()) + 2
    order = np.argsort(src * kj + j, kind="stable")
    return take(cat, order), src[order], j[order]


def _clip_points_flat(fl: Flat, fidx, start_f, end_f, axis):
    """Point/MultiPoint vertex filter (clip.ts:61-71): keep start<=v<=end."""
    sub = take(fl, fidx)
    av = sub.xs if axis == AXIS_X else sub.ys
    vcnt = np.diff(sub.roff)  # one ring per point feature
    sv = np.repeat(start_f[fidx], vcnt)
    ev = np.repeat(end_f[fidx], vcnt)
    keep = (av >= sv) & (av <= ev)
    kept_per = _seg_sum(keep, sub.roff)
    sel = np.flatnonzero(kept_per > 0)
    if not sel.size:
        return np.empty(0, _I8), np.empty(0, _I8), empty_flat()
    # kept vertices already fall only in selected features
    xs2, ys2, ms2 = sub.xs[keep], sub.ys[keep], sub.ms[keep]
    cnt2 = kept_per[sel]
    roff2 = np.empty(len(sel) + 1, _I8)
    roff2[0] = 0
    np.cumsum(cnt2, out=roff2[1:])
    nf = len(sel)
    zf = np.zeros(nf, np.float64)
    flat2 = Flat(
        xs2, ys2, ms2, roff2,
        np.zeros(nf, np.int32), zf.copy(), zf.copy(), zf.copy(),
        np.arange(nf + 1, dtype=_I8),
        np.where(cnt2 == 1, POINT, MULTIPOINT).astype(np.int32),
        np.minimum.reduceat(xs2, roff2[:-1]),
        np.minimum.reduceat(ys2, roff2[:-1]),
        np.maximum.reduceat(xs2, roff2[:-1]),
        np.maximum.reduceat(ys2, roff2[:-1]),
    )
    return fidx[sel].astype(_I8), np.zeros(nf, _I8), flat2


def _clip_lines_polys_flat(fl: Flat, fidx, start_f, end_f, axis, line_metrics):
    """Segment-mask clip of line/polygon features (clip.ts:166-241).

    Every consecutive vertex pair is a segment; entry/exit crossings are
    scattered into a single emission array in exactly the scalar walker's
    order (entry-or-vertex first, exit second, ring-last vertex after its
    segments), then grouped into output slices by (ring, #exits-before)."""
    sub = take(fl, fidx)
    V = sub.n_vertices
    if V == 0:
        return np.empty(0, _I8), np.empty(0, _I8), empty_flat()
    Rc = sub.n_rings
    rfeat = sub.ring_feat()
    tfr = sub.ftype[rfeat]
    is_poly_r = (tfr == POLYGON) | (tfr == MULTIPOLYGON)
    track_r = (tfr == LINESTRING) if line_metrics else np.zeros(Rc, bool)
    start_r = start_f[fidx][rfeat]
    end_r = end_f[fidx][rfeat]

    rlen = np.diff(sub.roff)
    vring = np.repeat(np.arange(Rc, dtype=_I8), rlen)
    axv = sub.xs if axis == AXIS_X else sub.ys
    sv = start_r[vring]
    ev = end_r[vring]

    is_last = np.zeros(V, bool)
    is_last[sub.roff[1:][rlen > 0] - 1] = True
    isseg = ~is_last
    bx = np.empty(V, np.float64)
    by = np.empty(V, np.float64)
    bx[:-1] = sub.xs[1:]
    by[:-1] = sub.ys[1:]
    bx[-1] = by[-1] = 0.0
    b_ax = bx if axis == AXIS_X else by

    in_a = (axv >= sv) & (axv <= ev)
    ent_lo = isseg & (axv < sv) & (b_ax > sv)
    ent_hi = isseg & (axv > ev) & (b_ax < ev)
    vert = isseg & in_a
    ex_lo = isseg & (b_ax < sv) & (axv >= sv)
    ex_hi = isseg & (b_ax > ev) & (axv <= ev)
    last_emit = is_last & in_a
    exited = ex_lo | ex_hi
    closes = exited & ~is_poly_r[vring]

    mask1 = ent_lo | ent_hi | vert | last_emit
    counts = mask1.astype(_I8) + exited.astype(_I8)
    eoff = np.empty(V + 1, _I8)
    eoff[0] = 0
    np.cumsum(counts, out=eoff[1:])
    E = int(eoff[-1])
    if E == 0:
        return np.empty(0, _I8), np.empty(0, _I8), empty_flat()

    ex_arr = np.empty(E, np.float64)
    ey_arr = np.empty(E, np.float64)
    em_arr = np.empty(E, np.float64)
    p1 = eoff[:-1]

    m_v = vert | last_emit
    pv = p1[m_v]
    ex_arr[pv] = sub.xs[m_v]
    ey_arr[pv] = sub.ys[m_v]
    em_arr[pv] = sub.ms[m_v]

    t_ent = np.zeros(V, np.float64)
    t_ex = np.zeros(V, np.float64)

    def _cross(masks_vals, second: bool, t_store):
        for m, vv in masks_vals:
            mm = np.flatnonzero(m)
            if not mm.size:
                continue
            v = vv[mm]
            a = axv[mm]
            # same float expression as clip.ts:262-272 / clip.py _intersect
            t = (v - a) / (b_ax[mm] - a)
            if axis == AXIS_X:
                o = sub.ys[mm] + (by[mm] - sub.ys[mm]) * t
                xo, yo = v, o
            else:
                o = sub.xs[mm] + (bx[mm] - sub.xs[mm]) * t
                xo, yo = o, v
            p = p1[mm] + (mask1[mm].astype(_I8) if second else 0)
            ex_arr[p] = xo
            ey_arr[p] = yo
            em_arr[p] = 1.0
            t_store[mm] = t

    _cross(((ent_lo, sv), (ent_hi, ev)), False, t_ent)
    _cross(((ex_lo, sv), (ex_hi, ev)), True, t_ex)

    # slice index per vertex = line-exits strictly before it, within its ring
    exc = np.concatenate(([0], np.cumsum(closes)))
    ring_base = exc[sub.roff[:-1]]
    slice_v = exc[:-1] - ring_base[vring]

    e_ring = np.repeat(vring, counts)
    e_slice = np.repeat(slice_v, counts)

    ks = int(e_slice.max()) + 2
    key = e_ring * ks + e_slice
    bd = np.flatnonzero(np.diff(key)) + 1
    o_start = np.concatenate(([0], bd))
    o_end = np.concatenate((bd, [E]))
    n_or = len(o_start)
    o_src_ring = e_ring[o_start]
    o_slice = e_slice[o_start]
    o_len = o_end - o_start

    # polygon re-close (clip.ts:221-223): >=2 points and endpoints diverged
    firsts, lasts = o_start, o_end - 1
    need = (
        is_poly_r[o_src_ring]
        & (o_len >= 2)
        & ((ex_arr[firsts] != ex_arr[lasts]) | (ey_arr[firsts] != ey_arr[lasts]))
    )
    o_len2 = o_len + need
    roff_o = np.empty(n_or + 1, _I8)
    roff_o[0] = 0
    np.cumsum(o_len2, out=roff_o[1:])
    ov_total = int(roff_o[-1])
    shift = np.concatenate(([0], np.cumsum(need)))[:-1]
    pos_final = np.arange(E, dtype=_I8) + np.repeat(shift, o_len)
    xs_o = np.empty(ov_total, np.float64)
    ys_o = np.empty(ov_total, np.float64)
    ms_o = np.empty(ov_total, np.float64)
    xs_o[pos_final] = ex_arr
    ys_o[pos_final] = ey_arr
    ms_o[pos_final] = em_arr
    cl = np.flatnonzero(need)
    if cl.size:
        cpos = roff_o[cl + 1] - 1
        fpos = roff_o[cl]
        xs_o[cpos] = xs_o[fpos]
        ys_o[cpos] = ys_o[fpos]
        ms_o[cpos] = ms_o[fpos]

    # lineMetrics cumulative lengths (per-ring sequential cumsum = JS order)
    ostart = sub.rstart[o_src_ring].copy()
    oend = sub.rend[o_src_ring].copy()
    if line_metrics and track_r.any():
        seg_len = np.zeros(V, np.float64)
        seg_len[isseg] = np.sqrt(
            (sub.xs[isseg] - bx[isseg]) ** 2 + (sub.ys[isseg] - by[isseg]) ** 2
        )
        length_before = np.zeros(V, np.float64)
        for r in np.flatnonzero(track_r):
            s, e = int(sub.roff[r]), int(sub.roff[r + 1])
            if e - s < 2:
                continue
            length_before[s:e - 1] = np.cumsum(
                np.concatenate(([sub.rstart[r]], seg_len[s:e - 2]))
            )
        out_keys = key[o_start]
        trv = track_r[vring]
        for m, tarr, dest in ((
            (ent_lo | ent_hi) & trv, t_ent, ostart),
            (exited & trv, t_ex, oend),
        ):
            mm = np.flatnonzero(m)
            if not mm.size:
                continue
            val = length_before[mm] + seg_len[mm] * tarr[mm]
            oi = np.searchsorted(out_keys, vring[mm] * ks + slice_v[mm])
            dest[oi] = val

    opoly = sub.rpoly[o_src_ring].copy()
    osize = sub.rsize[o_src_ring]

    # ---- group output slices into output features ----
    o_feat = rfeat[o_src_ring]
    own_r = track_r[o_src_ring]  # lineMetrics LineString slices: own feature
    prev_feat = np.concatenate(([-1], o_feat[:-1]))
    prev_own = np.concatenate(([True], own_r[:-1]))
    bndf = (o_feat != prev_feat) | own_r | prev_own
    ofid = np.cumsum(bndf) - 1
    feat_start = np.flatnonzero(bndf)
    fo = len(feat_start)
    src_local = o_feat[feat_start]
    j_out = np.where(own_r[feat_start], o_slice[feat_start], 0).astype(_I8)
    rc_of = np.diff(np.concatenate((feat_start, [n_or])))
    foff_o = np.empty(fo + 1, _I8)
    foff_o[0] = 0
    np.cumsum(rc_of, out=foff_o[1:])

    t_src = tfr[o_src_ring][feat_start]
    line_like = (t_src == LINESTRING) | (t_src == MULTILINESTRING)
    ftype_o = np.select(
        [own_r[feat_start], line_like & (rc_of == 1), line_like,
         t_src == POLYGON],
        [LINESTRING, LINESTRING, MULTILINESTRING, POLYGON],
        default=MULTIPOLYGON,
    ).astype(np.int32)

    # MultiPolygon: renumber kept polygon indices densely (clip.ts:127-131)
    tfr_o = tfr[o_src_ring]
    mp = np.flatnonzero(tfr_o == MULTIPOLYGON)
    if mp.size:
        kp = int(opoly.max()) + 2
        k = ofid[mp] * kp + opoly[mp]
        uk, inv = np.unique(k, return_inverse=True)
        uf = uk // kp
        rank = np.arange(len(uk), dtype=_I8) - np.searchsorted(uf, uf)
        opoly[mp] = rank[inv].astype(np.int32)

    # ---- bbox per output feature (feature.ts:35-62 outer-ring rule) ----
    rminx = np.minimum.reduceat(xs_o, roff_o[:-1])
    rminy = np.minimum.reduceat(ys_o, roff_o[:-1])
    rmaxx = np.maximum.reduceat(xs_o, roff_o[:-1])
    rmaxy = np.maximum.reduceat(ys_o, roff_o[:-1])
    ispoly_o = (tfr_o == POLYGON) | (tfr_o == MULTIPOLYGON)
    contrib = np.ones(n_or, bool)
    pr = np.flatnonzero(ispoly_o)
    if pr.size:
        kp2 = int(opoly.max()) + 2
        _, first_idx = np.unique(ofid[pr] * kp2 + opoly[pr], return_index=True)
        cpoly = np.zeros(pr.size, bool)
        cpoly[first_idx] = True
        contrib[pr] = cpoly
    cr = np.flatnonzero(contrib)
    fb = np.searchsorted(ofid[cr], np.arange(fo))
    minx_f = np.minimum.reduceat(rminx[cr], fb)
    miny_f = np.minimum.reduceat(rminy[cr], fb)
    maxx_f = np.maximum.reduceat(rmaxx[cr], fb)
    maxy_f = np.maximum.reduceat(rmaxy[cr], fb)

    flat_c = Flat(
        xs_o, ys_o, ms_o, roff_o, opoly, osize, ostart, oend,
        foff_o, ftype_o, minx_f, miny_f, maxx_f, maxy_f,
    )
    return fidx[src_local].astype(_I8), j_out, flat_c


# --------------------------------------------------------------------------
# batched tile assembly (tile.ts + transform.ts semantics, all features at
# once): per-zoom tolerance filtering of the DP annotations, tiny-ring cull,
# canonical rewinding, integer transform, JSON emission
# --------------------------------------------------------------------------

def _seg_seq_sum(terms: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Exact per-segment LEFT-TO-RIGHT float sum (JS accumulation order).

    Grouped by segment length into 2-D blocks so cumsum(axis=1) reproduces the
    scalar walker's sequential rounding — np.sum's pairwise reduction would
    not."""
    lens = np.diff(off)
    out = np.zeros(len(lens), np.float64)
    for ln in np.unique(lens):
        if ln == 0:
            continue
        sel = np.flatnonzero(lens == ln)
        idx = off[:-1][sel][:, None] + np.arange(int(ln))[None, :]
        out[sel] = np.cumsum(terms[idx], axis=1)[:, -1]
    return out


def js_round_arr(v: np.ndarray) -> np.ndarray:
    """ECMA Math.round on an array (transform.ts; see tile.py js_round)."""
    f = np.floor(v)
    return (f + ((v - f) >= 0.5)).astype(_I8)


def assemble_flat(fl: Flat, z_f: np.ndarray, options):
    """Per-zoom simplify-filter of every feature at once (tile.ts:126-164).

    Returns (npoints, nsimplified, emit):
      npoints/nsimplified: (F,) int64 — stop-rule counters (all source
      vertices / emitted vertices);
      emit: None when nothing survives, else a dict:
        gxs, gys      kept mercator coords (flat)
        groff         (G+1,) kept-vertex offsets per emitted ring
        gfeat         (G,) feature index per emitted ring
        f_has_tf      (F,) bool — tile feature emitted (geometry non-empty
                      list; empty rings still count as emitted, tile.ts:163)
        f_tile_type   (F,) int32 — 1 point / 2 line / 3 polygon
    """
    F = fl.n_features
    npoints = np.zeros(F, _I8)
    nsimplified = np.zeros(F, _I8)
    if F == 0:
        return npoints, nsimplified, None

    tol_f = np.where(
        z_f == options.max_zoom, 0.0,
        options.tolerance / (np.exp2(z_f.astype(np.float64)) * options.extent),
    )
    sq_f = tol_f * tol_f
    rfeat = fl.ring_feat()
    tfr = fl.ftype[rfeat]
    ispt_f = (fl.ftype == POINT) | (fl.ftype == MULTIPOINT)
    ispoly_r = (tfr == POLYGON) | (tfr == MULTIPOLYGON)
    rlen = np.diff(fl.roff)
    tol_r = tol_f[rfeat]
    sq_r = sq_f[rfeat]

    # ring cull (tile.ts:146-149); point rings never cull
    culled = (
        (tol_r > 0)
        & (fl.rsize < np.where(ispoly_r, sq_r, tol_r))
        & ~ispt_f[rfeat]
    )
    R = fl.n_rings
    vring = np.repeat(np.arange(R, dtype=_I8), rlen)
    keep = np.where(
        ispt_f[rfeat][vring] | (tol_r[vring] == 0),
        True,
        fl.ms > sq_r[vring],
    ) & ~culled[vring]

    npoints = _seg_sum(rlen, fl.foff)
    nsimplified = _seg_sum(keep, fl.feat_voff())

    # emitted rings: every non-culled ring, even if 0 vertices kept
    emit_r = np.flatnonzero(~culled)
    if not emit_r.size:
        return npoints, nsimplified, None

    kept_per_ring = _seg_sum(keep, fl.roff)
    gcnt = kept_per_ring[emit_r]
    groff = np.empty(len(emit_r) + 1, _I8)
    groff[0] = 0
    np.cumsum(gcnt, out=groff[1:])
    gxs = fl.xs[keep]
    gys = fl.ys[keep]
    # keep-order equals ring order, and culled rings keep nothing, so the
    # kept stream already lines up with emit_r's rings
    gfeat = rfeat[emit_r]

    # canonical rewind of emitted polygon rings (tile.ts:166-184)
    gpoly_mask = ispoly_r[emit_r]
    pg = np.flatnonzero(gpoly_mask & (gcnt > 0))
    if pg.size:
        # is_outer per ORIGINAL ring: Polygon -> first ring of the feature;
        # MultiPolygon -> ring whose poly differs from the previous ring's
        first_of_feat = np.zeros(R, bool)
        first_of_feat[fl.foff[:-1][np.diff(fl.foff) > 0]] = True
        prev_poly = np.empty(R, np.int64)
        prev_poly[1:] = fl.rpoly[:-1]
        prev_poly[:1] = -1
        new_poly = first_of_feat | (fl.rpoly != prev_poly)
        is_outer_r = np.where(tfr == MULTIPOLYGON, new_poly, first_of_feat)

        # shoelace terms over KEPT vertices: term[0] wraps to the ring's last
        # vertex; summed strictly left-to-right per ring (_seg_seq_sum), the
        # same float order as the scalar _rewind's cumsum
        xp = np.empty_like(gxs)
        yp = np.empty_like(gys)
        xp[1:] = gxs[:-1]
        yp[1:] = gys[:-1]
        nz = gcnt > 0
        starts = groff[:-1][nz]
        lasts = groff[1:][nz] - 1
        xp[starts] = gxs[lasts]
        yp[starts] = gys[lasts]
        terms = (gxs - xp) * (gys + yp)
        area = _seg_seq_sum(terms, groff)[pg]
        clockwise = is_outer_r[emit_r[pg]]
        flip_rings = pg[(area > 0) == clockwise]
        if flip_rings.size:
            fr_len = gcnt[flip_rings]
            within = (
                np.arange(int(fr_len.sum()), dtype=_I8)
                - np.repeat(np.concatenate(([0], np.cumsum(fr_len)))[:-1], fr_len)
            )
            base = np.repeat(groff[flip_rings], fr_len)
            # fancy-index assignment gathers src fully before writing dst
            src_idx = base + np.repeat(fr_len, fr_len) - 1 - within
            dst_idx = base + within
            gxs[dst_idx] = gxs[src_idx]
            gys[dst_idx] = gys[src_idx]

    f_has_tf = np.zeros(F, bool)
    f_has_tf[gfeat] = True
    f_tile_type = np.where(
        ispt_f, 1, np.where((fl.ftype == POLYGON) | (fl.ftype == MULTIPOLYGON), 3, 2)
    ).astype(np.int32)

    return npoints, nsimplified, {
        "gxs": gxs, "gys": gys, "groff": groff, "gfeat": gfeat,
        "f_has_tf": f_has_tf, "f_tile_type": f_tile_type,
    }


def tile_geometry_json(emit: dict, z_f, x_f, y_f, extent: int) -> dict:
    """Integer transform (transform.ts:67-72) + per-feature JSON geometry.

    Returns {feature_index: geom_json_str} for every emitting feature; byte
    output matches model.tile_feature_to_json on the scalar path.

    The JSON text is assembled entirely in pyarrow C kernels — int64→string
    cast for the coordinates, elementwise concat for "[x,y]" pairs, and
    list-aware binary_join for the variable-length ring / feature joins —
    because per-feature json.dumps was the single hottest line of the fused
    level kernel (58% of a 250k-feature crossing under cProfile). Byte
    equality with json.dumps(geom, separators=(",", ":")) is pinned by the
    batch==scalar parity suite (test_flat.py): plain decimal int rendering
    and ","/"[","]" punctuation only."""
    import pyarrow as pa
    import pyarrow.compute as pc

    gxs, gys, groff, gfeat = emit["gxs"], emit["gys"], emit["groff"], emit["gfeat"]
    f_tile_type = emit["f_tile_type"]
    if len(gfeat) == 0:
        return {}
    # per kept vertex: owning feature
    gcnt = np.diff(groff)
    vfeat = np.repeat(gfeat, gcnt)
    z2 = np.exp2(z_f.astype(np.float64))
    ix = js_round_arr(extent * (gxs * z2[vfeat] - x_f[vfeat]))
    iy = js_round_arr(extent * (gys * z2[vfeat] - y_f[vfeat]))
    # "[x,y]" per kept vertex, then one C-side join per ring segment and one
    # per feature (ListArray offsets = the existing groff / per-feature ring
    # counts — no per-ring Python slicing)
    # int32 offset bounds: kept-vertex count (ring offsets) AND segment
    # count (feature offsets — can exceed vertices when empty rings emit).
    # Hard raise so PYTHONOPTIMIZE cannot strip the guard.
    if int(groff[-1]) >= 2**31 or len(groff) - 1 >= 2**31:
        raise ValueError(
            "batch overflows int32 offsets: "
            f"{int(groff[-1])} kept vertices / {len(groff) - 1} segments"
        )
    xs = pc.cast(pa.array(ix), pa.string())
    ys = pc.cast(pa.array(iy), pa.string())
    pairs = pc.binary_join_element_wise("[", xs, ",", ys, "]", "")
    segs = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(groff, pa.int32()), pairs), ","
    )
    seg_wrapped = pc.binary_join_element_wise("[", segs, "]", "")
    # feature boundaries in segment space (gfeat is non-decreasing)
    feat_ids, seg_counts = np.unique(gfeat, return_counts=True)
    foff = np.concatenate(([0], np.cumsum(seg_counts))).astype(np.int32)
    # tile-type 1 (points): the geometry IS the first segment's pair list —
    # the scalar path slices go[i]:go[i+1], i.e. exactly seg_wrapped[first].
    # Homogeneous batches (all-point or no-point — the common case: a level
    # crossing over one corpus) build only the branch they need; pc.if_else
    # materializes BOTH branches, so mixed batches still pay double.
    is_pt_np = f_tile_type[feat_ids] == 1
    if is_pt_np.all():
        geoms = seg_wrapped.take(pa.array(foff[:-1]))
        return dict(zip(feat_ids.tolist(), geoms.to_pylist()))
    poly = pc.binary_join_element_wise(
        "[",
        pc.binary_join(pa.ListArray.from_arrays(pa.array(foff), seg_wrapped), ","),
        "]",
        "",
    )
    if not is_pt_np.any():
        return dict(zip(feat_ids.tolist(), poly.to_pylist()))
    first_seg = seg_wrapped.take(pa.array(foff[:-1]))
    geoms = pc.if_else(pa.array(is_pt_np), first_seg, poly)
    return dict(zip(feat_ids.tolist(), geoms.to_pylist()))


# --------------------------------------------------------------------------
# scalar bridges (tests + subtree kernel interop)
# --------------------------------------------------------------------------

def flat_from_features(features: list) -> Flat:
    """Internal feature dicts (functions/feature.py) -> Flat. Test bridge:
    the rows go through the same Arrow reader as the Spark kernels."""
    import pyarrow as pa

    from ..model import feature_to_row

    rows = [feature_to_row(f, 0, 0, 0, []) for f in features]
    cols = ("coords", "rlens", "rpoly", "rsize", "rstart", "rend",
            "ftype", "minx", "miny", "maxx", "maxy")
    return flat_from_arrow(
        pa.RecordBatch.from_pydict({c: [r[c] for r in rows] for c in cols})
    )


def flat_to_features(fl: Flat, ids=None, tags=None) -> list:
    """Flat -> internal feature dicts (bbox taken from the Flat, not
    recomputed). Test bridge + tile-emission interop."""
    from .feature import make_ring

    cells = flat_to_cells(fl)
    out = []
    for i in range(fl.n_features):
        coords = cells["coords"][i]
        rl = cells["rlens"][i]
        rings = []
        off = 0
        for k, ln in enumerate(rl):
            n = int(ln) * 3
            rings.append(make_ring(
                coords[off:off + n],
                int(cells["rpoly"][i][k]), float(cells["rsize"][i][k]),
                float(cells["rstart"][i][k]), float(cells["rend"][i][k]),
            ))
            off += n
        out.append({
            "id": None if ids is None else ids[i],
            "type": int(fl.ftype[i]),
            "rings": rings,
            "tags": None if tags is None else tags[i],
            "minx": float(fl.minx[i]), "miny": float(fl.miny[i]),
            "maxx": float(fl.maxx[i]), "maxy": float(fl.maxy[i]),
        })
    return out
