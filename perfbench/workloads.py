"""The workloads. Each has a set-up (input generation, untimed) and a
cycle: a fixed, seeded sequence of calls into the package's public
functions, run by one closed-loop client. Every call is one op: it runs
inside a span, and its output is checked by a gate outside the span.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

from . import gates, inputs, session

SIZES = {
    "pyramid": {
        # 8400 rects x 25 ring vertices = 210k root vertices: just above the
        # 200k one-shot limit, so the per-level loop, head fusion and the
        # subtree kernels build the pyramid
        # then the edit phase: the tile-edit cycle cut to one round and one hit
        "full": {"features": 8400, "edge_points": 6, "point_reads": 8, "viewports": 2,
                 "edit": {"features": 1000, "rounds": 1, "hits": 1}},
        "tiny": {"features": 300, "edge_points": 1, "point_reads": 4, "viewports": 1,
                 "edit": {"features": 150, "rounds": 1, "hits": 1}},
    },
    "tile-edit": {
        "full": {"features": 1000, "rounds": 2, "hits": 2},
        "tiny": {"features": 150, "rounds": 1, "hits": 1},
    },
    "geo-analytics": {
        "full": {"events": 100_000, "documents": 2000, "points": 200_000, "cluster_max_zoom": 8},
        "tiny": {"events": 2000, "documents": 120, "points": 5000, "cluster_max_zoom": 4},
    },
}


def pyramid_options():
    """z0-z14 full pyramid, tiles split until they hold 128 vertices or fewer."""
    from geojson_vt_spark.config import Options

    return Options(max_zoom=14, index_max_zoom=14, index_max_points=128)


# Point reads go to deep tiles, where a read is bound by its Spark job rather
# than by the tile's size, so their median does not depend on which tiles a
# seed picks; the viewports cover shallower zooms.
READ_ZOOMS = (6, 7, 8, 9)  # point reads cycle through these zooms
VIEWPORT_ZOOMS = (5, 8, 4, 6)  # one 5x5 viewport per entry


class Ctx:
    """Run state shared by a workload's ops: the session, the span tracer,
    the op records and the layer decisions seen along the way."""

    def __init__(self, spark, tracer, cpu_s, seed: int, run_dir: str, size: str):
        self.spark = spark
        self.tracer = tracer
        self.cpu_s = cpu_s  # CPU seconds of the process tree so far
        self.seed = seed
        self.run_dir = run_dir
        self.size = size
        self.cycle = 0
        self.records: list = []
        self.failures: list = []
        self.decisions: dict = {}
        self.untimed = {"settle": 0.0, "gates": 0.0}  # wall between the ops

    def op(self, span: str, fn, check=None, items: float = 0.0):
        """Run fn() as one timed op; gate its result with check() after the
        span closes. Returns (result, record)."""
        t0 = time.perf_counter()
        self.settle()
        self.untimed["settle"] += time.perf_counter() - t0
        result, err = None, None
        cpu0 = self.cpu_s()
        with self.tracer.span(span) as rec:
            try:
                result = fn()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                err = f"{type(e).__name__}: {e}"
        cpu = self.cpu_s() - cpu0
        why = err
        t0 = time.perf_counter()
        if why is None and check is not None:
            try:
                why = check(result)
            except Exception as e:  # noqa: BLE001 — a broken gate is a failed op
                why = f"gate raised {type(e).__name__}: {e}"
        self.untimed["gates"] += time.perf_counter() - t0
        r = {"span": span, "s": rec["end"] - rec["start"], "cpu_s": cpu, "items": items,
             "cycle": self.cycle, "ok": True}
        self.records.append(r)
        if why is not None:
            self.fail(r, why)
        return result, r

    def settle(self) -> None:
        """Collect garbage in the driver and the JVM before an op (untimed),
        so an op does not pay for the garbage earlier ops left behind, and
        Spark's cleaner drops the blocks of frames nothing references."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def fail(self, record: dict, why: str) -> None:
        if record["ok"]:
            record["ok"] = False
            self.failures.append((record["span"], why[:300]))


def _collect(df):
    return [tuple(r) for r in df.collect()], list(df.columns)


class Pyramid:
    """Full z0-z14 build_pyramid + write_tile_store over seeded rectangles,
    seeded DiskTileServer point reads and 5x5 viewport reads, then the
    tile-edit cycle (engine constructor, update_data, drill-down, hit) cut to
    one round, so every package layer the benchmark names runs in a
    workload that BENCHMARK.json lists."""

    name = "pyramid"
    min_cycles = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cfg = SIZES[self.name][ctx.size]
        self.options = pyramid_options()
        self.build_options = self.options  # a smoke test builds with others
        self.edit = TileEdit(ctx, self.cfg["edit"])

    def setup(self) -> None:
        # the feature conversion runs in the Python workers, which also
        # starts and warms them before the first timed op
        c, ctx = self.cfg, self.ctx
        params = inputs.rect_params(ctx.seed, c["features"])
        self.features = inputs.feature_frame(ctx.spark, params, self.options, c["edge_points"])
        fc = inputs.rect_collection(params, c["edge_points"])
        self.oracle = gates.FeatureSet(fc["features"], self.options)
        self.found = [0, 0]
        self.edit.setup()

    def cycle(self) -> None:
        self.serve()
        self.edit.cycle()

    def serve(self) -> None:
        from geojson_vt_spark.plans.pyramid import build_pyramid
        from geojson_vt_spark.sources.tile_store import DiskTileServer, write_tile_store

        ctx, c = self.ctx, self.cfg
        store, build = ctx.op(
            "plans.pyramid.build_pyramid", lambda: build_pyramid(self.features, self.build_options)
        )
        if store is None:
            return
        ctx.decisions["plans.pyramid.one_shot"] = float(store.one_shot)
        ctx.decisions["plans.pyramid.head_fused_levels"] = float(
            sum(extra for _lvl, extra in store.head_fused)
        )
        path = os.path.join(ctx.run_dir, f"store-{ctx.cycle}")
        _, write = ctx.op(
            "sources.tile_store.write_tile_store",
            lambda: write_tile_store(store.tiles_df(), store.registry_df(), path),
        )
        if not write["ok"]:
            return
        t0 = time.perf_counter()
        server = DiskTileServer(ctx.spark, path)
        keys = server.all_tile_keys()
        n_feats = server.tiles.count()
        build["items"] = n_feats
        # write gate: the written store holds exactly the built registry and tiles
        want = (store.registry_df().count(), store.tiles_df().count())
        if (len(keys), n_feats) != want or len(set(keys)) != len(keys):
            ctx.fail(build, f"store holds {len(keys)} tiles / {n_feats} features, build {want}")
        known = set(keys)
        ctx.untimed["gates"] += time.perf_counter() - t0
        del store  # serving reads the written store; let the build's blocks go

        # reads are stratified by zoom so every seed gets the same mix
        g = inputs.rng(ctx.seed, 50 + ctx.cycle)
        by_zoom: dict = {}
        for k in sorted(keys):
            by_zoom.setdefault(k[0], []).append(k)

        def pick(z):
            z = max(zz for zz in by_zoom if zz <= z)
            level = by_zoom[z]
            return level[int(g.integers(len(level)))]

        checked = []  # keys whose split decisions the build gate checks
        for z in READ_ZOOMS * (c["point_reads"] // len(READ_ZOOMS)):
            key = pick(z)
            checked += descent(key, known, g)
            ctx.op(
                "sources.tile_store.get_tile",
                lambda key=key: server.get_tile(*key),
                check=lambda r, key=key: gates.tile_mismatch(r, self.oracle.expected_tile(*key)),
            )
        for z in VIEWPORT_ZOOMS[: c["viewports"]]:
            z, x, y = pick(z)
            n = 1 << z
            req = sorted({(z, (x + dx) % n, y + dy) for dx in range(-2, 3)
                          for dy in range(-2, 3) if 0 <= y + dy < n})
            checked += req
            served, _ = ctx.op(
                "sources.tile_store.get_tiles",
                lambda req=req: server.get_tiles(req),
                check=lambda r, req=req: gates.viewport_mismatch(
                    r, req, known, self.oracle.expected_tile
                ),
            )
            self.found[0] += len(served or {})
            self.found[1] += len(req)
        ctx.decisions["sources.tile_store.get_tiles.found_ratio"] = (
            self.found[0] / self.found[1] if self.found[1] else 0.0
        )
        # build gate, independent of the build: the stop rule over the
        # oracle's clip at every checked key
        t0 = time.perf_counter()
        why = gates.registry_mismatch(known, checked, self.oracle.clipped, self.options)
        if why:
            ctx.fail(build, why)
        ctx.untimed["gates"] += time.perf_counter() - t0

    def named_metrics(self) -> list:
        ctx = self.ctx
        build = _walls(ctx, "plans.pyramid.build_pyramid")
        write = _walls(ctx, "sources.tile_store.write_tile_store")
        items = sum(r["items"] for r in ctx.records if r["span"] == "plans.pyramid.build_pyramid")
        pt = _walls(ctx, "sources.tile_store.get_tile")
        vp = _walls(ctx, "sources.tile_store.get_tiles")
        built = sum(build) + sum(write)
        return [
            ("build_tile_features_per_s", items / built if built else 0.0, "1/s", len(build)),
            ("get_tile_p50_s", pct(pt, 50), "s", len(pt)),
            ("get_tile_p90_s", pct(pt, 90), "s", len(pt)),
            ("viewport_p50_s", pct(vp, 50), "s", len(vp)),
            ("viewport_p90_s", pct(vp, 90), "s", len(vp)),
        ] + self.edit.named_metrics()


def descent(key: tuple, known: set, g) -> list:
    """key and a seeded path of registered descendants down to a leaf."""
    path = [key]
    while True:
        z, x, y = path[-1]
        kids = [(z + 1, 2 * x + dx, 2 * y + dy) for dy in (0, 1) for dx in (0, 1)]
        kids = [k for k in kids if k in known]
        if not kids:
            return path
        path.append(kids[int(g.integers(len(kids)))])


class TileEdit:
    """Reference "constructor + getTile while features change": an
    updateable engine over a small corpus, then per round a seeded
    update_data diff, a get_tile drill-down on a z14 tile the diff touched,
    and repeat hits on it. One engine per cycle, so the session history
    (and the latency growth it brings) is the same in every cycle."""

    name = "tile-edit"
    min_cycles = 1

    def __init__(self, ctx: Ctx, cfg: dict | None = None):
        from geojson_vt_spark.config import Options

        self.ctx = ctx
        self.cfg = cfg or SIZES[self.name][ctx.size]
        # index to z8 / 64 points: the root splits and holds < 200k vertices,
        # so the constructor takes the one-shot path; z14 is never indexed,
        # so every first get_tile at z14 drills down
        self.options = Options(updateable=True, max_zoom=14, index_max_zoom=8, index_max_points=64)

    def setup(self) -> None:
        c, ctx = self.cfg, self.ctx
        self.data = inputs.rect_collection(inputs.rect_params(ctx.seed, c["features"]), 1)
        self.diffs = inputs.edit_diffs(ctx.seed, c["features"], c["rounds"])
        session.warm_workers(ctx.spark)

    def cycle(self) -> None:
        from geojson_vt_spark.operators.engine import GeoJSONVTSpark

        ctx, c = self.ctx, self.cfg
        oracle = gates.FeatureSet(self.data["features"], self.options)
        eng, _ = ctx.op(
            "operators.engine.init",
            lambda: GeoJSONVTSpark(ctx.spark, data=self.data, options=self.options),
        )
        if eng is None:
            return
        # in the pyramid workload the full build's decision is the one kept
        ctx.decisions.setdefault("plans.pyramid.one_shot", float(eng.store.one_shot))
        for diff, (lon, lat) in self.diffs:
            ctx.op("operators.engine.update_data", lambda diff=diff: eng.update_data(diff))
            oracle.apply(diff)
            key = inputs.tile_of(lon, lat, 14)
            check = lambda r, key=key: gates.tile_mismatch(r, oracle.expected_tile(*key))  # noqa: E731
            ctx.op("operators.engine.get_tile_miss", lambda key=key: eng.get_tile(*key), check=check)
            for _ in range(c["hits"]):
                ctx.op("operators.engine.get_tile_hit", lambda key=key: eng.get_tile(*key), check=check)
        ctx.decisions["operators.engine.store_frames"] = float(
            sum(len(getattr(eng.store, a)) for a in ("tiles", "registry", "sources"))
        )

    def named_metrics(self) -> list:
        init = _walls(self.ctx, "operators.engine.init")
        upd = _walls(self.ctx, "operators.engine.update_data")
        miss = _walls(self.ctx, "operators.engine.get_tile_miss")
        hit = _walls(self.ctx, "operators.engine.get_tile_hit")
        return [
            ("index_build_s", pct(init, 50), "s", len(init)),
            ("update_p50_s", pct(upd, 50), "s", len(upd)),
            ("drilldown_p50_s", pct(miss, 50), "s", len(miss)),
            ("tile_hit_p50_s", pct(hit, 50), "s", len(hit)),
        ]


class GeoAnalytics:
    """Point-in-polygon cell join, grid supercluster trees and MinHash-LSH
    dedup over seeded tables; never touches the pyramid."""

    name = "geo-analytics"
    min_cycles = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cfg = SIZES[self.name][ctx.size]

    def setup(self) -> None:
        import duckdb

        ctx = self.ctx
        self.dir = os.path.join(ctx.run_dir, "tables")
        self.rows = inputs.write_geo_tables(ctx.seed, self.dir, self.cfg)
        session.warm_workers(ctx.spark)
        self.duck = duckdb.connect()
        for t in ("events", "nation", "documents"):
            self.duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self._oracle: dict = {}

    def _oracle_check(self, name: str):
        def check(result):
            if name not in self._oracle:
                import __spark_entry__ as entry

                rel = self.duck.sql(entry.oracle_sql()[name])
                self._oracle[name] = (rel.fetchall(), [d[0] for d in rel.description])
            rows, cols = result
            return gates.oracle_mismatch(rows, cols, *self._oracle[name])

        return check

    def _pip(self, table_dir: str):
        from geojson_vt_spark.analytics import q_pip_join

        return _collect(q_pip_join(self.ctx.spark, table_dir))

    def _dedup(self, table_dir: str):
        from geojson_vt_spark.training import q_minhash_lsh_dedup

        return _collect(q_minhash_lsh_dedup(self.ctx.spark, table_dir))

    def _grid(self, table_dir: str, n: int, max_zoom: int) -> dict:
        """{zoom: (clusters, points held)} of the grid trees, one job."""
        from pyspark.sql import functions as F

        from geojson_vt_spark.cluster.grid import build_grid_trees
        from geojson_vt_spark.config import ClusterOptions

        pts = self.ctx.spark.read.parquet(f"{table_dir}/points.parquet")
        trees = build_grid_trees(pts, ClusterOptions(max_zoom=max_zoom), n)
        levels = None
        for z, df in trees.items():
            part = df.select(F.lit(z).alias("z"), "num")
            levels = part if levels is None else levels.unionByName(part)
        agg = levels.groupBy("z").agg(F.count(F.lit(1)).alias("n"), F.sum("num").alias("w"))
        return {r.z: (r.n, r.w) for r in agg.collect()}

    def cycle(self) -> None:
        ctx, rows, mz = self.ctx, self.rows, self.cfg["cluster_max_zoom"]
        ctx.op("analytics.q_pip_join", lambda: self._pip(self.dir),
               check=self._oracle_check("pip_join"), items=rows["events"])
        ctx.op("cluster.grid.build_grid_trees", lambda: self._grid(self.dir, rows["points"], mz),
               check=lambda lv: gates.grid_mismatch(lv, rows["points"], mz),
               items=rows["points"])
        ctx.op("training.q_minhash_lsh_dedup", lambda: self._dedup(self.dir),
               check=self._oracle_check("minhash_lsh_dedup"), items=rows["documents"])

    def named_metrics(self) -> list:
        out = []
        for name, span in (
            ("join_rows_per_s", "analytics.q_pip_join"),
            ("cluster_points_per_s", "cluster.grid.build_grid_trees"),
            ("dedup_docs_per_s", "training.q_minhash_lsh_dedup"),
        ):
            rs = [r for r in self.ctx.records if r["span"] == span]
            wall = sum(r["s"] for r in rs)
            out.append((name, sum(r["items"] for r in rs) / wall if wall else 0.0, "1/s", len(rs)))
        return out


WORKLOADS = {w.name: w for w in (Pyramid, TileEdit, GeoAnalytics)}


def _walls(ctx: Ctx, span: str) -> list:
    return [r["s"] for r in ctx.records if r["span"] == span]


def pct(values: list, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(ctx: Ctx, setup_s: float, peak_rss_mb: float) -> dict:
    """The bounded metrics. Op costs are process-tree CPU seconds, which
    exclude CPU time the hypervisor stole from the guest; walls (which
    include it) are on the `#` lines and in the traced run."""
    cycles: dict = {}
    for r in ctx.records:
        cycles[r["cycle"]] = cycles.get(r["cycle"], 0.0) + r["cpu_s"]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "cycle_cpu_s": (statistics.median(cycles.values()) if cycles else 0.0, "s"),
    }
